"""Seeded fixture generator for the drift-diff benchmark.

Writes two sides of one workload plus `truth.json`, the ground truth the
harness checks every compare against. Everything follows from
(workload, seed, scale); the program under test only ever sees the
generated sides.

Base tables are shaped like the TPC-H sf0.1 fixture (same table and column
names, same row counts at scale 1.0) but synthesised here, so a run reads
nothing outside its checkout. Every base table has a unique key, so no two
rows are identical and the expected set difference follows exactly from the
injected edits:

    rows_only_in_db1 = deleted + changed
    rows_only_in_db2 = inserted + changed

A changed row keeps its key and alters one compared value, so it can never
collide with another row. Inserted rows take fresh keys.

Usage: python3 fixtures.py <workload> <seed> <out_dir> [scale]
"""

import json
import os
import shutil
import subprocess
import sys
import zlib
from datetime import date, datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from build import SPARK_JARS

WORKLOADS = ("nightly_recon", "migration_drift", "jdbc_federated")

# Row counts at scale 1.0 (the sf0.1 fixture).
ROWS = {"region": 5, "nation": 25, "supplier": 1000, "customer": 15000,
        "part": 20000, "orders": 150000, "events": 100000,
        "documents": 5000, "embeddings": 2000}

WORDS = np.array(("batch part spark line column order small sort fast value scan "
                  "hash slow group agg filter query big key window row table "
                  "stream merge data join plan cache shard index").split())
COLORS = np.array(("almond antique aquamarine azure beige bisque black blanched "
                   "blue blush brown burlywood chartreuse chiffon chocolate coral "
                   "cornflower cornsilk cream cyan dark deep dim dodger").split())
DAY0 = date(1992, 1, 1)

# Benchmark scale of each workload, as a share of the sf0.1 row counts.
SCALE = {"nightly_recon": 0.3, "migration_drift": 0.4, "jdbc_federated": 0.5}


def _n(table, scale):
    base = ROWS[table]
    return base if base < 100 else max(int(base * scale), 20)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, vocab, n):
    return pa.array(np.asarray(vocab)[rng.integers(0, len(vocab), n)])


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _dates(rng, n, span_days=2400):
    return pa.array(rng.integers(0, span_days, n).astype("timedelta64[D]")
                    + np.datetime64(DAY0), pa.date32())


# ---------------------------------------------------------------- base tables

def region(rng, n, key0=0):
    keys = np.arange(key0, key0 + n, dtype=np.int32)
    return pa.table({"r_regionkey": keys, "r_name": _names("REGION", keys)})


def nation(rng, n, key0=0):
    keys = np.arange(key0, key0 + n, dtype=np.int32)
    return pa.table({"n_nationkey": keys, "n_name": _names("NATION", keys),
                     "n_regionkey": rng.integers(0, 5, n, dtype=np.int32)})


def supplier(rng, n, key0=1):
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    return pa.table({"s_suppkey": keys, "s_name": _names("Supplier", keys),
                     "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
                     "s_acctbal": _money(rng, n, -999.99, 9999.99)})


def customer(rng, n, key0=1):
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    return pa.table({"c_custkey": keys, "c_name": _names("Customer", keys),
                     "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
                     "c_acctbal": _money(rng, n, -999.99, 9999.99),
                     "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                 "HOUSEHOLD", "MACHINERY"], n)})


def part(rng, n, key0=1):
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    words = COLORS[rng.integers(0, len(COLORS), (n, 3))]
    return pa.table({"p_partkey": keys,
                     "p_name": pa.array([" ".join(w) for w in words.tolist()]),
                     "p_brand": pa.array([f"Brand#{a}{b}" for a, b in
                                          rng.integers(1, 6, (n, 2)).tolist()]),
                     "p_type": _pick(rng, ["STANDARD ANODIZED TIN", "SMALL PLATED COPPER",
                                           "PROMO BURNISHED NICKEL", "LARGE BRUSHED BRASS",
                                           "ECONOMY POLISHED STEEL"], n),
                     "p_size": rng.integers(1, 51, n, dtype=np.int32),
                     "p_retailprice": _money(rng, n, 900.0, 2100.0)})


def orders(rng, n, key0=1, n_cust=15000):
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    return pa.table({"o_orderkey": keys,
                     "o_custkey": rng.integers(1, n_cust + 1, n, dtype=np.int64),
                     "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
                     "o_totalprice": _money(rng, n, 850.0, 560000.0),
                     "o_orderdate": _dates(rng, n),
                     "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                    "4-NOT SPECIFIED", "5-LOW"], n)})


def lineitem(rng, order_keys, n_part=20000, n_supp=1000):
    """1-7 lines per order; (l_orderkey, l_linenumber) is the unique key."""
    per = rng.integers(1, 8, len(order_keys))
    okeys = np.repeat(order_keys, per)
    starts = np.repeat(np.cumsum(per) - per, per)
    n = len(okeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({"l_orderkey": okeys,
                     "l_partkey": rng.integers(1, n_part + 1, n, dtype=np.int64),
                     "l_suppkey": rng.integers(1, n_supp + 1, n, dtype=np.int64),
                     "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
                     "l_quantity": qty,
                     "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
                     "l_discount": rng.integers(0, 11, n) / 100.0,
                     "l_tax": rng.integers(0, 9, n) / 100.0,
                     "l_returnflag": _pick(rng, ["A", "N", "R"], n),
                     "l_linestatus": _pick(rng, ["F", "O"], n),
                     "l_shipdate": _dates(rng, n, 2500)})


def _props(rng, n):
    """Event properties; each is stored as JSON text."""
    return [{"k": int(k), "src": s, "tags": [t1, t2]}
            for k, s, t1, t2 in zip(rng.integers(0, 100, n).tolist(),
                                    WORDS[rng.integers(0, 8, n)].tolist(),
                                    WORDS[rng.integers(0, len(WORDS), n)].tolist(),
                                    WORDS[rng.integers(0, len(WORDS), n)].tolist())]


def events(rng, n, key0=0):
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    ts = (np.datetime64(datetime(2024, 1, 1), "us")
          + np.sort(rng.integers(0, 86_400_000_000 * 30, n)).astype("timedelta64[us]"))
    value = np.round(rng.uniform(0, 500, n), 2)
    nulls = rng.random(n) < 0.02
    return pa.table({"event_id": keys, "ts": pa.array(ts, pa.timestamp("us")),
                     "user_id": rng.integers(0, 5000, n, dtype=np.int64),
                     "event_type": _pick(rng, ["view", "click", "signup", "error", "buy"], n),
                     "value": pa.array(value, mask=nulls),
                     "props": pa.array([json.dumps(p) for p in _props(rng, n)])})


def documents(rng, n, key0=0):
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), 60)].tolist())[:300]
             for _ in range(n)]
    return pa.table({"doc_id": keys, "text": pa.array(texts),
                     "lang": _pick(rng, ["en", "de", "fr", "zh", "es"], n),
                     "source": _pick(rng, [f"src{i}" for i in range(8)], n),
                     "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, n, key0=0):
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    return pa.table({"vec_id": keys,
                     "embedding": pa.FixedSizeListArray.from_arrays(
                         pa.array(vecs.reshape(-1)), 64).cast(pa.list_(pa.float32())),
                     "label": rng.integers(0, 10, n, dtype=np.int32)})


# ---------------------------------------------------------------- edits

def _bump(t, col, delta):
    """Add `delta` to a numeric column: a value that always differs."""
    i = t.schema.get_field_index(col)
    arr = t.column(col).to_numpy()
    return t.set_column(i, col, pa.array(np.round(arr + delta, 2), t.schema.field(col).type))


def _suffix(t, col, s):
    i = t.schema.get_field_index(col)
    return t.set_column(i, col, pa.array([v + s for v in t.column(col).to_pylist()]))


def _nudge_embedding(t):
    i = t.schema.get_field_index("embedding")
    vecs = [v[:] for v in t.column("embedding").to_pylist()]
    for v in vecs:
        v[0] = float(np.float32(v[0] + 0.5))
    return t.set_column(i, "embedding", pa.array(vecs, pa.list_(pa.float32())))


def _nudge_props(t):
    i = t.schema.get_field_index("props")
    out = []
    for s in t.column("props").to_pylist():
        p = json.loads(s)
        p["k"] += 1000
        out.append(json.dumps(p))
    return t.set_column(i, "props", pa.array(out))


CHANGES = {  # table -> function that alters one compared value per row
    "supplier": lambda t: _bump(t, "s_acctbal", 1.0),
    "customer": lambda t: _bump(t, "c_acctbal", 1.0),
    "part": lambda t: _bump(t, "p_retailprice", 1.0),
    "orders": lambda t: _bump(t, "o_totalprice", 1.0),
    "lineitem": lambda t: _bump(t, "l_extendedprice", 1.0),
    "events": _nudge_props,
    "documents": lambda t: _suffix(t, "text", " rev2"),
    "embeddings": _nudge_embedding,
}


def apply_edits(rng, name, base, fresh, change, delete, insert):
    """Return (db2 table, expected drift) for one table.

    `fresh(k)` builds k rows with keys past every base key.
    """
    n = base.num_rows
    n_chg, n_del, n_ins = (int(round(n * f)) for f in (change, delete, insert))
    perm = rng.permutation(n)
    changed = np.sort(perm[n_del:n_del + n_chg])
    keep = np.ones(n, dtype=bool)
    keep[perm[:n_del + n_chg]] = False
    parts = [base.filter(pa.array(keep))]
    if n_chg:
        parts.append(CHANGES[name](base.take(pa.array(changed))))
    if n_ins:
        parts.append(fresh(n_ins))
    db2 = pa.concat_tables(parts)
    return db2, {"rows_only_in_db1": n_del + n_chg, "rows_only_in_db2": n_ins + n_chg}


# ---------------------------------------------------------------- workloads

def _tpch(rng, scale, names):
    """Base TPC-H-shaped tables, each with a function that makes fresh rows."""
    n = {t: _n(t, scale) for t in ROWS}
    out = {}
    if "region" in names:
        out["region"] = (region(rng, n["region"]), lambda k: region(rng, k, n["region"]))
    if "nation" in names:
        out["nation"] = (nation(rng, n["nation"]), lambda k: nation(rng, k, n["nation"]))
    if "supplier" in names:
        out["supplier"] = (supplier(rng, n["supplier"]),
                           lambda k: supplier(rng, k, n["supplier"] + 1))
    if "customer" in names:
        out["customer"] = (customer(rng, n["customer"]),
                           lambda k: customer(rng, k, n["customer"] + 1))
    if "part" in names:
        out["part"] = (part(rng, n["part"]), lambda k: part(rng, k, n["part"] + 1))
    o = orders(rng, n["orders"], n_cust=n["customer"])
    if "orders" in names:
        out["orders"] = (o, lambda k: orders(rng, k, n["orders"] + 1, n["customer"]))
    if "lineitem" in names:
        # fresh lines belong to fresh order keys, so (orderkey, linenumber) stays unique
        out["lineitem"] = (
            lineitem(rng, o.column("o_orderkey").to_numpy(), n["part"], n["supplier"]),
            lambda k: lineitem(rng, np.arange(n["orders"] + 1, n["orders"] + 1 + k,
                                              dtype=np.int64), n["part"], n["supplier"])
            .slice(0, k))
    return out


def _edit_all(rng, tables, rates, db1, db2, summary):
    for name in sorted(tables):
        base, fresh = tables[name]
        chg, dele, ins = rates(name, base.num_rows)
        other, drift = apply_edits(rng, name, base, fresh, chg, dele, ins)
        db1[name], db2[name] = base, other
        if drift["rows_only_in_db1"] + drift["rows_only_in_db2"]:
            summary.append({"table_name": name, **drift})


def nightly_recon(rng, scale):
    """Replica vs prod: ~0.1% of rows deleted, changed or inserted."""
    tables = _tpch(rng, scale, ("region", "nation", "supplier", "customer",
                                "part", "orders", "lineitem"))
    db1, db2, summary = {}, {}, []

    def rates(name, n):
        return (0.0, 0.0, 0.0) if n < 100 else (0.0004, 0.0003, 0.0003)
    _edit_all(rng, tables, rates, db1, db2, summary)
    # an added column on db2 is schema drift only: compares use shared columns
    c = db2["customer"]
    db2["customer"] = c.append_column(
        "c_comment", pa.array([f"note {i % 97}" for i in range(c.num_rows)]))
    db2["audit_log"] = pa.table({"id": np.arange(100, dtype=np.int64),
                                 "msg": pa.array([f"sync {i}" for i in range(100)])})
    schema = [{"table_name": "customer", "column_name": "c_comment",
               "db1_column_type": None, "db2_column_type": "VARCHAR"}]
    missing = [{"table_name": "audit_log", "observed_in": "db2", "missing_in": "db1"}]
    return db1, db2, summary, schema, missing


def migration_drift(rng, scale):
    """Schema migration: ~30% of rows rewritten, 15% deleted, 15% inserted,
    JSON props re-serialized with another key order, o_totalprice as text."""
    n = {t: _n(t, scale) for t in ROWS}
    tables = {
        "events": (events(rng, n["events"]), lambda k: events(rng, k, n["events"])),
        "documents": (documents(rng, n["documents"]),
                      lambda k: documents(rng, k, n["documents"])),
        "embeddings": (embeddings(rng, n["embeddings"]),
                       lambda k: embeddings(rng, k, n["embeddings"])),
    }
    tables["orders"] = _tpch(rng, scale, ("orders",))["orders"]
    db1, db2, summary = {}, {}, []
    _edit_all(rng, tables, lambda name, _: (0.30, 0.15, 0.15), db1, db2, summary)

    # db2 re-serialized every JSON value: same structure, other key order
    ev = db2["events"]
    reordered = [json.dumps(dict(reversed(list(json.loads(s).items()))),
                            separators=(",", ":"))
                 for s in ev.column("props").to_pylist()]
    db2["events"] = ev.set_column(ev.schema.get_field_index("props"), "props",
                                  pa.array(reordered))
    # o_totalprice: DECIMAL(15,2) on db1, text on db2 (cast-to-string path)
    for side in (db1, db2):
        t = side["orders"]
        cents = np.round(t.column("o_totalprice").to_numpy() * 100).astype(np.int64)
        text = pa.array([f"{c // 100}.{c % 100:02d}" for c in cents.tolist()])
        value = text if side is db2 else text.cast(pa.decimal128(15, 2))
        side["orders"] = t.set_column(t.schema.get_field_index("o_totalprice"),
                                      "o_totalprice", value)
    schema = [{"table_name": "orders", "column_name": "o_totalprice",
               "db1_column_type": "DECIMAL(15,2)", "db2_column_type": "VARCHAR"}]
    return db1, db2, summary, schema, []


def jdbc_federated(rng, scale):
    """Parquet db1 against an embedded Derby db2: ~1% of rows drifted."""
    tables = _tpch(rng, scale, ("customer", "supplier", "part", "orders"))
    db1, db2, summary = {}, {}, []
    _edit_all(rng, tables, lambda name, _: (0.005, 0.0025, 0.0025), db1, db2, summary)
    return db1, db2, summary, [], []


# ---------------------------------------------------------------- report

def render_report(missing, schema, summary):
    """The text `DriftOutput.report` must produce for this ground truth."""
    def q(s):
        return f'"{s}"'
    out = ["Database Comparison Report"]
    if missing:
        out.append("\n\nMissing Table Summary")
        for r in sorted(missing, key=lambda r: r["table_name"]):
            out.append(f"\n{q(r['table_name'])} not found in {q(r['missing_in'])}")
    if schema:
        out.append("\n\nSchema Drift Summary")
        for r in sorted(schema, key=lambda r: (r["table_name"], r["column_name"])):
            out.append(f"\n\n{q(r['table_name'])}.{q(r['column_name'])}")
            out.append(f"\n    {q('db1')} {q(r['db1_column_type'] or 'None')}")
            out.append(f"\n    {q('db2')} {q(r['db2_column_type'] or 'None')}")
    if summary:
        out.append("\n\nData Drift Summary\nFormat:\n    my_table\n"
                   "        db1 - records only in db1\n        db2 - records only in db2")
        for r in sorted(summary, key=lambda r: r["table_name"]):
            out.append(f"\n\n{r['table_name']}\n    db1 - {r['rows_only_in_db1']}"
                       f"\n    db2 - {r['rows_only_in_db2']}")
    return "".join(out)


# ---------------------------------------------------------------- writers

DERBY_TYPES = {pa.int32(): "INTEGER", pa.int64(): "BIGINT", pa.float64(): "DOUBLE",
               pa.string(): "VARCHAR(200)", pa.date32(): "DATE"}


def _csv_field(v):
    if isinstance(v, str):
        return '"' + v.replace('"', '""') + '"'
    if isinstance(v, float):
        return repr(v)  # shortest round-trip form, parsed back to the same double
    return str(v)


def load_derby(tables, out_dir):
    """Load `tables` into a new embedded Derby database with Derby's own
    `ij` tool, in a JVM of its own. Table and column names are quoted so
    they keep their lower case, as on the Parquet side."""
    csv_dir = os.path.join(out_dir, "db2_csv")
    os.makedirs(csv_dir)
    db = os.path.join(out_dir, "db2_derby")
    lines = [f"connect 'jdbc:derby:{db};create=true';"]
    for name, t in sorted(tables.items()):
        cols = ", ".join(f'"{f.name}" {DERBY_TYPES[f.type]}' for f in t.schema)
        path = os.path.join(csv_dir, f"{name}.csv")
        with open(path, "w", encoding="utf-8") as fh:
            for row in zip(*(t.column(c).to_pylist() for c in t.column_names)):
                fh.write(",".join(_csv_field(v) for v in row) + "\n")
        lines.append(f'create table "{name}" ({cols});')
        lines.append(f"call syscs_util.syscs_import_table(null, '{name}', '{path}', "
                     f"',', '\"', 'UTF-8', 0);")
    lines += ["disconnect;", "connect 'jdbc:derby:;shutdown=true';", "exit;"]
    script = os.path.join(out_dir, "load.sql")
    with open(script, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    cp = ":".join(os.path.join(SPARK_JARS, j) for j in sorted(os.listdir(SPARK_JARS))
                  if j.startswith("derby"))
    res = subprocess.run(["java", "-XX:-UsePerfData", f"-Dderby.system.home={out_dir}",
                          "-Dij.outfile=" + os.path.join(out_dir, "load.log"),
                          "-cp", cp, "org.apache.derby.tools.ij", script],
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         timeout=300)
    log = open(os.path.join(out_dir, "load.log")).read()
    errors = [ln for ln in log.splitlines() if ln.startswith("ERROR") and "XJ015" not in ln]
    if res.returncode != 0 or errors:
        raise RuntimeError(f"Derby load failed:\n{res.stdout}\n{log[-2000:]}")
    shutil.rmtree(csv_dir)
    return db


def _write_side(tables, d):
    os.makedirs(d)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def generate(workload, seed, out_dir, scale=None):
    """Write both sides of `workload` and its truth.json into `out_dir`."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
    scale = SCALE[workload] if scale is None else scale
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    db1, db2, summary, schema, missing = globals()[workload](rng, scale)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_side(db1, os.path.join(tmp, "db1"))
    # the Derby side also keeps a Parquet twin: the self-check's oracle reads
    # it, and it sizes the input for out_bytes_per_in_byte
    _write_side(db2, os.path.join(tmp, "db2"))
    sides = {"db1": {"kind": "parquet", "path": "db1"},
             "db2": {"kind": "parquet", "path": "db2"}}
    if workload == "jdbc_federated":
        load_derby(db2, tmp)
        sides["db2"] = {"kind": "derby", "path": "db2_derby"}
    truth = {
        "workload": workload, "seed": seed, "scale": scale, "sides": sides,
        "input_rows": {"db1": sum(t.num_rows for t in db1.values()),
                       "db2": sum(t.num_rows for t in db2.values())},
        "table_rows": {"db1": {n: t.num_rows for n, t in db1.items()},
                       "db2": {n: t.num_rows for n, t in db2.items()}},
        "input_bytes": _dir_bytes(os.path.join(tmp, "db1")) + _dir_bytes(os.path.join(tmp, "db2")),
        "summary": sorted(summary, key=lambda r: r["table_name"]),
        "schema_drift": schema,
        "missing_tables": missing,
        "report": render_report(missing, schema, summary),
    }
    with open(os.path.join(tmp, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return truth


if __name__ == "__main__":
    if len(sys.argv) not in (4, 5):
        sys.exit(__doc__)
    t = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3],
                 float(sys.argv[4]) if len(sys.argv) == 5 else None)
    print(json.dumps(t["input_rows"]), t["input_bytes"])
