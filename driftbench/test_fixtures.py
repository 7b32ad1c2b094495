"""Self-check of the ground-truth generator at sf0.001 (scale 0.01 of sf0.1).

An oracle independent of the generator's bookkeeping reads both generated
sides back, normalizes them the way the drift diff compares rows (shared
columns only, JSON text by structure, cross-type columns as text) and
recomputes the set differences, missing tables and schema drift that
truth.json claims.

    python3 -m unittest driftbench/test_fixtures.py
"""

import json
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import fixtures

SCALE = 0.01


def read_side(d):
    return {f[:-len(".parquet")]: pq.read_table(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")}


def render(t):
    if pa.types.is_string(t):
        return "VARCHAR"
    if pa.types.is_decimal(t):
        return f"DECIMAL({t.precision},{t.scale})"
    return str(t)


def canon(v):
    if isinstance(v, str) and v.startswith("{"):
        return json.dumps(json.loads(v), sort_keys=True)
    if isinstance(v, list):
        return tuple(v)
    return v


def rows(t, cols, as_text):
    data = [[str(v) if c in as_text else canon(v) for v in t.column(c).to_pylist()]
            for c in cols]
    return list(zip(*data))


def oracle(db1, db2):
    summary, schema = [], []
    for name in sorted(set(db1) & set(db2)):
        t1, t2 = db1[name], db2[name]
        f1 = {f.name: f.type for f in t1.schema}
        f2 = {f.name: f.type for f in t2.schema}
        for c in sorted(set(f1) ^ set(f2)):
            schema.append((name, c, render(f1[c]) if c in f1 else None,
                           render(f2[c]) if c in f2 else None))
        shared = sorted(set(f1) & set(f2))
        as_text = {c for c in shared if f1[c] != f2[c]}
        for c in sorted(as_text):
            schema.append((name, c, render(f1[c]), render(f2[c])))
        r1, r2 = rows(t1, shared, as_text), rows(t2, shared, as_text)
        assert len(set(r1)) == len(r1) and len(set(r2)) == len(r2), f"{name}: duplicate rows"
        only1, only2 = len(set(r1) - set(r2)), len(set(r2) - set(r1))
        if only1 or only2:
            summary.append((name, only1, only2))
    missing = sorted([(n, "db1", "db2") for n in set(db1) - set(db2)]
                     + [(n, "db2", "db1") for n in set(db2) - set(db1)])
    return summary, sorted(schema), missing


class GeneratorSelfCheck(unittest.TestCase):

    def check(self, workload, seed=7):
        with tempfile.TemporaryDirectory() as tmp:
            out = os.path.join(tmp, "fx")
            truth = fixtures.generate(workload, seed, out, SCALE)
            db1, db2 = read_side(os.path.join(out, "db1")), read_side(os.path.join(out, "db2"))
            summary, schema, missing = oracle(db1, db2)
            self.assertEqual(summary, [(r["table_name"], r["rows_only_in_db1"],
                                        r["rows_only_in_db2"]) for r in truth["summary"]])
            self.assertEqual(schema, sorted((r["table_name"], r["column_name"],
                                             r["db1_column_type"], r["db2_column_type"])
                                            for r in truth["schema_drift"]))
            self.assertEqual(missing, sorted((r["table_name"], r["observed_in"], r["missing_in"])
                                             for r in truth["missing_tables"]))
            self.assertTrue(summary, "every workload injects row drift")
            self.assertEqual(truth["report"], fixtures.render_report(
                truth["missing_tables"], truth["schema_drift"], truth["summary"]))
            if truth["sides"]["db2"]["kind"] == "derby":
                self.assertTrue(os.path.isdir(os.path.join(out, "db2_derby", "seg0")))
            again = fixtures.generate(workload, seed, os.path.join(tmp, "again"), SCALE)
            self.assertEqual(again["summary"], truth["summary"], "same seed, same truth")
            self.assertEqual(again["input_bytes"], truth["input_bytes"])

    def test_nightly_recon(self):
        self.check("nightly_recon")

    def test_migration_drift(self):
        self.check("migration_drift")

    def test_jdbc_federated(self):
        self.check("jdbc_federated")


if __name__ == "__main__":
    unittest.main()
