package graft

import java.io.File

import graft.operators.{DriftCompare, DriftOutput, DriftResult}
import graft.sources.MemorySide
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The result store `DriftOutput.write` produces, and the failure contract
  * it shares with `compareAll`: a failure is thrown only once every
  * sibling job has finished, and nothing the run cached stays cached.
  */
class DriftOutputSpec extends SparkSpecBase {
  import spark.implicits._

  private val lotadTables =
    Set("lotad_table_schema_drift", "lotad_missing_table_drift", "lotad_db_data_drift_summary")

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def dirsIn(out: String): Set[String] =
    Option(new File(out).listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getName).toSet

  private def committed(out: String, table: String): Boolean =
    new File(s"$out/$table/_SUCCESS").isFile

  private def keyed(n: Int, tag: String): DataFrame =
    (1 to n).map(i => (i.toLong, s"$tag$i")).toDF("id", "v")

  /** Two partitions of two rows, each row sleeping `ms`: a job that is
    * still running well after a sibling's failure.
    */
  private def slow(ms: Long): DataFrame = {
    val nap = udf { (x: Long) => Thread.sleep(ms); x }
    spark.range(0, 4, 1, 2).select(nap($"id").as("id"))
  }

  /** Fails in the first task that evaluates it. */
  private def failing: DataFrame =
    spark.range(1).select(when($"id" >= 0, raise_error(lit("boom"))).otherwise($"id").as("id"))

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def assertAllJobsDone(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  test("write: one committed directory per drifted table plus the three lotad tables") {
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val c = new DriftCompare(spark,
      MemorySide("db1", Map("a" -> keyed(5, "a"), "b" -> keyed(6, "b"), "c" -> keyed(4, "c"),
        "same" -> keyed(3, "s"), "only1" -> keyed(2, "o"))),
      MemorySide("db2", Map("a" -> keyed(4, "a"), "b" -> keyed(7, "b"),
        "c" -> keyed(4, "c").withColumn("v", concat($"v", lit("!"))), "same" -> keyed(3, "s"))))
    val r = c.compareAll(parallelism = 3)
    try {
      assert(r.dataDrift.keySet == Set("a", "b", "c"))
      assert(r.dataDrift.values.forall(_.storageLevel != StorageLevel.NONE))
      val out = tmpDir("driftout")
      DriftOutput.write(spark, r, out)
      assert(dirsIn(out) == Set("a", "b", "c") ++ lotadTables)
      dirsIn(out).foreach(t => assert(committed(out, t), s"$t has no _SUCCESS"))
      r.dataDrift.foreach { case (t, cached) =>
        assert(spark.read.parquet(s"$out/$t").collect().toSet == cached.collect().toSet, t)
      }
      assert(spark.read.parquet(s"$out/lotad_db_data_drift_summary").count() == 3)
      assert(spark.read.parquet(s"$out/lotad_missing_table_drift")
        .select("table_name").as[String].collect().toSeq == Seq("\"only1\""))
      assert(spark.read.parquet(s"$out/lotad_table_schema_drift").count() == 0)
    } finally r.dataDrift.values.foreach(_.unpersist(blocking = true))
    // the frame of table `same` (no drift) was released by compareAll itself
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore)
  }

  test("write: an empty result still writes the three lotad tables") {
    val out = tmpDir("driftout-empty")
    DriftOutput.write(spark, DriftResult(Nil, Nil, Map.empty, Nil), out)
    assert(dirsIn(out) == lotadTables)
    lotadTables.foreach { t =>
      assert(committed(out, t), s"$t has no _SUCCESS")
      assert(spark.read.parquet(s"$out/$t").count() == 0)
    }
    assert(spark.read.parquet(s"$out/lotad_db_data_drift_summary").columns.toSeq ==
      Seq("table_name", "db1", "rows_only_in_db1", "db2", "rows_only_in_db2"))
  }

  test("write: a drifted table named like a summary table is refused before any write") {
    val out = tmpDir("driftout-clash")
    val result = DriftResult(Nil, Nil, Map("lotad_missing_table_drift" -> keyed(1, "x")), Nil)
    val e = intercept[IllegalArgumentException](DriftOutput.write(spark, result, out))
    assert(e.getMessage.contains("lotad_missing_table_drift"))
    assert(dirsIn(out).isEmpty)
  }

  test("write: a failing drift frame throws only after every other write has finished") {
    val out = tmpDir("driftout-fail")
    val result = DriftResult(Nil, Nil, Map("bad" -> failing, "slow" -> slow(700)), Nil)
    val e = intercept[Exception](DriftOutput.write(spark, result, out))
    assert(causes(e).exists(x => String.valueOf(x.getMessage).contains("boom")), e)
    assertAllJobsDone()
    (lotadTables + "slow").foreach(t => assert(committed(out, t), s"$t has no _SUCCESS"))
    assert(!committed(out, "bad"))
  }

  test("compareAll: a failing table throws once every table has finished, nothing stays cached") {
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val c = new DriftCompare(spark,
      MemorySide("db1", Map("bad" -> failing, "ok" -> keyed(5, "k"), "slow" -> slow(700))),
      MemorySide("db2", Map("bad" -> spark.range(1).toDF("id"), "ok" -> keyed(4, "k"),
        "slow" -> slow(700).filter($"id" =!= 1))))
    val e = intercept[Exception](c.compareAll(parallelism = 3))
    assert(causes(e).exists(x => String.valueOf(x.getMessage).contains("boom")), e)
    assertAllJobsDone()
    assert(sc.getPersistentRDDs.keySet == persistedBefore)
  }
}
