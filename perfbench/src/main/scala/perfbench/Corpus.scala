package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curation corpus: the sf0.1 `documents` (5,000 rows) and
  * `embeddings` (2,000 rows) tables put through a seeded
  * structure-preserving transform, the way `graft.ops.ScaleGen` makes
  * its copies.
  *
  *  - documents: a seeded permutation of the vocabulary (stopwords stay
  *    put) rewrites every word, and the rows are written in a seeded
  *    order. Token equality is all the curate stages look at, so every
  *    duplicate window, prefix key, trigram set and containment pair maps
  *    one to one.
  *  - embeddings: a seeded subset of dimensions changes sign, an
  *    orthogonal transform that keeps every dot product and distance
  *    bit for bit.
  *
  * Doc and vector ids are kept. The facts in [[ExpectedFacts]] therefore
  * hold for every seed.
  */
object Corpus {
  val Documents = 5000L
  val Embeddings = 2000L

  def write(spark: SparkSession, base: String, out: String, seed: Long): Unit = {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val stop = graft.ops.TextOps.Stopwords.toSet
    val vocab = docs.select(explode(split(col("text"), " ")).as("w")).distinct()
      .collect().map(_.getString(0)).filterNot(stop).sorted.toSeq
    val rnd = new scala.util.Random(seed)
    val mapping = typedLit(vocab.zip(rnd.shuffle(vocab)).toMap)
    val text = array_join(transform(split(col("text"), " "),
      w => coalesce(try_element_at(mapping, w), w)), " ")
    docs.withColumn("text", text)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy(xxhash64(col("doc_id"), lit(seed)))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    emb.withColumn("embedding", zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => when(pmod(xxhash64(i, lit(seed)), lit(2)) === 0, -x).otherwise(x)))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Facts of the sf0.1 corpus that the transform preserves, one per
    * curate landing: span removal totals, exact-prefix groups, the
    * curation reason histogram and the near-duplicate pair counts. All
    * but `emb_ann.pairs` equal what the DuckDB oracle SQL of the same
    * operators gives on sf0.1; the ANN stage probes 2 of its cells, has
    * no oracle, and finds 339 of the 402 exact pairs.
    */
  val ExpectedFacts: Map[String, Long] = Map(
    "span_clean.rows" -> 5000L,
    "span_clean.removed" -> 35117L,
    "exact_dedup.groups" -> 4209L,
    "exact_dedup.rows" -> 5000L,
    "curation_v4.exact" -> 594L,
    "curation_v4.boilerplate" -> 4406L,
    "emb_ann.pairs" -> 339L,
    "emb_pq.pairs" -> 402L)

  def facts(spark: SparkSession, warehouse: String): Map[String, Long] = {
    def read(t: String): DataFrame = spark.read.parquet(s"$warehouse/$t")
    def sumOf(df: DataFrame, c: String): Long =
      df.agg(coalesce(sum(col(c)), lit(0L))).head().getLong(0)
    val span = read("span_clean")
    val exact = read("exact_dedup")
    val reasons = read("curation_v4")
      .groupBy(coalesce(col("reason"), lit("keep")).as("r")).count().collect()
      .map(r => s"curation_v4.${r.getString(0)}" -> r.getLong(1)).toMap
    Map(
      "span_clean.rows" -> span.count(),
      "span_clean.removed" -> sumOf(span, "n_removed"),
      "exact_dedup.groups" -> exact.count(),
      "exact_dedup.rows" -> sumOf(exact, "n_dups"),
      "emb_ann.pairs" -> read("emb_ann").count(),
      "emb_pq.pairs" -> read("emb_pq").count()) ++ reasons
  }
}
