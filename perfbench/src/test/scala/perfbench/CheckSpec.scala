package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Main

/** The output check: a real pipeline run passes it, and a landing with
  * one row dropped fails it.
  */
class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    graft.engine.Sessions.deployment(Some("local[2]"), 2)
  private lazy val work = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target").toAbsolutePath, "checkspec")
  }
  private lazy val w = new IngestWorkload(spark, work, seed = 4, cpus = 2,
    rows = 600, pageSize = 100)

  override def afterAll(): Unit = {
    w.close()
    spark.stop()
  }

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("kind", StringType), StructField("amount_cents", LongType),
    StructField("device", StringType), StructField("country", StringType),
    StructField("n_tags", IntegerType), StructField("first_tag", StringType)))

  private def land(drop: Int): Unit = {
    val gen = new LoadGen(4, 600, 100, 100)
    val rows = Workload.pagedExpected(gen.events).map(Row.fromSeq).toSeq
    val kept = rows.patch(drop, Nil, if (drop >= 0) 1 else 0)
    spark.createDataFrame(spark.sparkContext.parallelize(kept, 2), schema)
      .write.mode("append").parquet(work.resolve("warehouse/ingest_paged_out").toString)
  }

  test("a pipeline run through the CLI passes the check") {
    w.setup()
    w.prepare()
    w.beforeRun()
    assert(Main.run(w.args, spark) == 0)
    val checks = w.check()
    assert(checks.nonEmpty && checks.forall(_.ok), checks.mkString("; "))
  }

  test("the check accepts the expected rows in any order and file split") {
    w.beforeRun()
    land(drop = -1)
    assert(w.check().forall(_.ok))
  }

  test("the check rejects a landing with one row dropped") {
    w.beforeRun()
    land(drop = 17)
    assert(!w.check().exists(_.ok))
  }

  test("the curate check rejects a stage landing its run did not rewrite") {
    val dir = work.resolve("curate")
    val c = new CurateWorkload(spark, dir, Paths.get("data"), seed = 1)
    c.prepare()
    val landings = BenchMain.CurateStages.map(s => dir.resolve("warehouse").resolve(s))
    def land(gen: Int, stages: Seq[Path]): Unit = stages.foreach { d =>
      Files.createDirectories(d)
      Files.list(d).forEach(f => Files.delete(f))
      Files.writeString(d.resolve(s"part-00000-gen$gen.parquet"), "x")
    }
    land(1, landings)
    c.beforeRun()
    land(2, landings.tail)
    val checks = c.rewritten()
    assert(checks.size == landings.size)
    assert(checks.map(_.ok) == false +: Seq.fill(landings.size - 1)(true))
  }

  test("the fingerprint sees a changed value") {
    val a = Fingerprint.of(Seq(Seq(1L, "x"), Seq(2L, "y")))
    assert(a == Fingerprint.of(Seq(Seq(2L, "y"), Seq(1L, "x"))))
    assert(a != Fingerprint.of(Seq(Seq(1L, "x"), Seq(2L, "z"))))
    assert(a != Fingerprint.of(Seq(Seq(1L, "x"))))
  }
}
