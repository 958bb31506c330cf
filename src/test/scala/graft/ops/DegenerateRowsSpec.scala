package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate embeddings — an empty vector and one whose dimension is
  * not the corpus's — never pair with each other on the cell- and
  * cluster-keyed paths. Those paths coalesce a null key to a −1
  * sentinel (a non-nullable key keeps Catalyst from re-running the
  * encode under an inferred `IsNotNull`), so two degenerate rows that
  * reached the key would share it. Each must be stopped before it:
  * rejected by the fit's geometry check, or dropped at the encode.
  */
class DegenerateRowsSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  /** 400 seeded Gaussian 64-dimension vectors, ids 10..409. */
  private def fixture: DataFrame = {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    (10L until 410L).map(id => (id, Seq.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** Two ids below 10 outside both knnPqIvf training samples below:
    * an odd `pmod(xxhash64(id), 4)` is odd mod 2 too, so neither the
    * codebook sample (trainMod = 2) nor the cell sample
    * (cellTrainMod = 4) holds them.
    */
  private lazy val (emptyId: Long, raggedId: Long) = {
    val ids = spark.range(10).toDF()
      .filter(pmod(xxhash64(col("id")), lit(4)) % 2 === 1)
      .collect().map(_.getLong(0))
    (ids(0), ids(1))
  }

  private def withRows(rows: (Long, Seq[Float])*): DataFrame = {
    val sp = spark; import sp.implicits._
    fixture.unionByName(rows.toDF("vec_id", "embedding"))
  }

  private def degenerate = withRows(
    emptyId -> Seq.empty[Float], raggedId -> Seq.fill(32)(0.5f))

  test("semanticDedup: the fit rejects a ragged corpus, empty rows never get a cluster") {
    try {
      val ex = intercept[IllegalArgumentException](
        Kmeans.semanticDedup(degenerate).collect())
      assert(ex.getMessage.contains("single embedding dimension"))

      val got = Kmeans.semanticDedup(
          withRows(emptyId -> Seq.empty[Float], raggedId -> Seq.empty[Float]))
        .collect().map(_.getLong(0)).toSet
      assert(got == fixture.collect().map(_.getLong(0)).toSet,
        "empty rows must be dropped before the cluster key, every other row kept")
    } finally Kmeans.clearCache()
  }

  test("knnPqIvf: degenerate rows in the training sample fail the fit") {
    try {
      val ex = intercept[IllegalArgumentException](
        Pq.knnPqIvf(degenerate, nQueries = 12).collect())
      assert(ex.getMessage.contains("mixed embedding dimensions"))
    } finally {
      Pq.clearCodebookCache()
      Similarity.clearQuantizerCache()
    }
  }

  test("knnPqIvf: degenerate rows outside the training samples are dropped at the encode") {
    try {
      val df = Pq.knnPqIvf(degenerate, nQueries = 12, trainMod = 2,
        cellTrainMod = 4)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(2)))
      val bad = Set(emptyId, raggedId)
      assert(!rows.exists { case (q, n) => bad(q) || bad(n) },
        s"degenerate rows reached the output: ${rows.filter { case (q, n) => bad(q) || bad(n) }.toSeq}")
      // the real queries (ids 10 and 11) still get their k = 5 neighbors
      assert(rows.groupBy(_._1).map { case (q, ns) => q -> ns.length } ==
        Map(10L -> 5, 11L -> 5))
      // the drop filters the raw column: no IsNotNull over the encode
      val plan = df.queryExecution.executedPlan.toString
      assert("(?i)isnotnull\\((element_at\\()?pq_encode".r.findFirstIn(plan).isEmpty,
        s"an IsNotNull re-evaluates the encode:\n$plan")
    } finally {
      Pq.clearCodebookCache()
      Similarity.clearQuantizerCache()
    }
  }
}
