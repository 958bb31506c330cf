package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import graft.cli.{Main, StageRunner}
import graft.config.PipelineConfig
import graft.config.PipelineConfig.Pagination
import graft.engine.Engine
import graft.http.HttpJsonSource
import graft.infer.SchemaInfer
import graft.template.Templates
import graft.writer.{FileWriter, WriteMode}

/** What a traced pipeline run landed. */
final case class Written(rows: Long, bytes: Long, files: Long) {
  def +(o: Written): Written = Written(rows + o.rows, bytes + o.bytes, files + o.files)
}

/** One benchmark workload: its inputs, the CLI invocation that runs it,
  * a traced replay of that invocation layer by layer, and the check of
  * what a run landed.
  */
trait Workload {
  def name: String
  /** Input rows one pipeline run consumes. */
  def inputRows: Long
  /** Modules and stages one pipeline run attempts. */
  def units: Int
  /** Make the inputs from the seed; repeated to time set-up. */
  def setup(): Unit
  /** Write config and module files and derive expected outputs. */
  def prepare(): Unit
  def args: Main.Args
  /** Called before every pipeline run, traced or not. */
  def beforeRun(): Unit
  /** Check what the last run landed. */
  def check(): Seq[CheckResult]
  /** Replay `Main.run` through each layer's public functions under
    * spans. A failing layer throws, which ends the benchmark.
    */
  def traced(t: Tracer, run: Int): Written
  /** The load generator's counters for the last run (empty without one). */
  def http: Option[PageServer]
  /** Fields of the schema the last traced run inferred. */
  def inferredFields: Int = 0
  def close(): Unit = ()
}

object Landing {
  /** Data files under a landing directory, name → size in bytes. */
  def parts(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => p.getFileName.toString -> Files.size(p)).toMap
}

/** HTTP → infer → SQL → file warehouse ingest of generated API events
  * served with `page_number` pagination, appended to parquet on every
  * run.
  */
final class IngestWorkload(spark: SparkSession, work: Path, seed: Long,
    cpus: Int, rows: Int, pageSize: Int) extends Workload {

  val name = "ingest_paged"
  private val server = new PageServer(cpus)
  server.start()
  private var gen: LoadGen = _
  private var expectedPrint = Fingerprint.empty
  private var before = Map.empty[String, Long]
  private var lastFields = 0

  private val sourceName = s"events_$name"
  private val destTable = s"${name}_out"
  private val modules = work.resolve("modules")
  private val config = work.resolve("pipelines.yaml")
  private val warehouse = work.resolve("warehouse")
  private val landing = warehouse.resolve(destTable)

  def inputRows: Long = rows.toLong
  def units: Int = 1
  def http: Option[PageServer] = Some(server)
  override def inferredFields: Int = lastFields

  def setup(): Unit = {
    // rows after the first page may carry the field the sample misses
    gen = new LoadGen(seed, rows, pageSize, promoFromRow = pageSize)
    server.load(gen)
  }

  def prepare(): Unit = {
    Files.createDirectories(modules)
    Files.writeString(modules.resolve(s"$name.sql"),
      Workload.PagedSql.replace("SOURCE", s"""{{ use_source("$sourceName") }}"""))
    Files.writeString(config,
      s"""sources:
         |  - name: $sourceName
         |    url: ${server.url}
         |    table_destination_name: $destTable
         |    data_path: /data
         |    page_size: $pageSize
         |    pagination:
         |      kind: page_number
         |      page_param: page
         |      per_page_param: per_page
         |      total_items_pointer: /meta/total_items
         |    retry:
         |      max_attempts: 3
         |      max_delay_secs: 0
         |      min_delay_secs: 0
         |""".stripMargin)
    expectedPrint = Fingerprint.of(Workload.pagedExpected(gen.events))
  }

  def args: Main.Args = Main.Args(modulesDir = modules.toString,
    configPath = config.toString, warehouse = Some(warehouse.toString))

  def beforeRun(): Unit = {
    server.resetRun()
    before = Landing.parts(landing)
  }

  def check(): Seq[CheckResult] = {
    val added = Landing.parts(landing).keySet -- before.keySet
    val got =
      if (added.isEmpty) Fingerprint.empty
      else Fingerprint.of(spark.read.parquet(added.toSeq.sorted
        .map(f => landing.resolve(f).toString): _*), Workload.PagedCols)
    Seq(CheckResult(s"$name landing", expectedPrint.toString, got.toString))
  }

  def traced(t: Tracer, run: Int): Written = {
    val (rendered, source) = t.span(run, "cli.prepare", "cli") {
      val cfg = PipelineConfig.loadFromPath(config.toString)
      val module = Templates.listSqlModules(modules.toString).head
      val r = Templates.render(module,
        Files.readString(modules.resolve(module)), Map.empty)
      (r, cfg.source(r.source.get))
    }
    val spec = HttpJsonSource.FetchSpec(source.url, source.headers,
      source.queryParams, source.dataPath, source.retry,
      bearerToken = source.bearerToken)
    val size = source.pageSize.get
    val fetched = t.span(run, "http.fetch", "http") {
      source.pagination match {
        case Some(Pagination.PageNumber(pp, ppp, Some(items), _)) =>
          val f = HttpJsonSource.fetchPageNumber(spark, spec, pp, ppp, size,
            Some(HttpJsonSource.TotalHint.Items(items)))
          f.rows.cache().count()
          f
        case other => throw new IllegalStateException(s"unexpected pagination $other")
      }
    }
    val raw = fetched.rows
    val df = t.span(run, "infer.schema", "infer")(
      SchemaInfer.readNestedSampled(spark, raw, fetched.firstPage))
    lastFields = Workload.leafFields(df.schema)
    val parsed = t.span(run, "infer.parse", "infer") {
      val c = df.cache()
      c.count()
      c
    }
    val sql = Templates.rewriteIdentifier(rendered.sql, rendered.source.get, destTable)
    val stats = try t.span(run, "engine.sql", "engine") {
      Engine.withSqlOver(spark, parsed, destTable, sql) { out =>
        val c = out.cache()
        c.count()
        try t.span(run, "writer.write", "writer") {
          new FileWriter(landing.toString, "parquet").write(c, WriteMode.Append)
        } finally { c.unpersist(blocking = true); () }
      }
    } finally {
      parsed.unpersist(blocking = true)
      raw.unpersist(blocking = true)
    }
    val added = Landing.parts(landing) -- before.keySet
    Written(stats.rowsWritten, added.values.sum, added.size.toLong)
  }

  override def close(): Unit = server.stop()
}

/** YAML curation stages over a seeded transform of the documents and
  * embeddings corpus; every stage replaces its landing, and the chained
  * stage reads its upstream's landing back.
  */
final class CurateWorkload(spark: SparkSession, work: Path, base: Path,
    seed: Long) extends Workload {
  val name = "curate_stages"
  private val corpus = work.resolve("corpus")
  private val modules = work.resolve("modules")
  private val config = work.resolve("pipelines.yaml")
  private val warehouse = work.resolve("warehouse")
  private var landings = Seq.empty[Path]
  private var before = Map.empty[Path, Set[String]]

  def inputRows: Long = Corpus.Documents + Corpus.Embeddings
  def units: Int = BenchMain.CurateStages.size
  def http: Option[PageServer] = None

  def setup(): Unit = Corpus.write(spark, base.toString, corpus.toString, seed)

  def prepare(): Unit = {
    Files.createDirectories(modules)
    def stage(n: String, q: String, extra: String = "") =
      s"""  - name: $n
         |    kind: query
         |    query: $q
         |    input_dir: $corpus
         |    write_mode: replace
         |$extra""".stripMargin
    Files.writeString(config, "stages:\n" + Seq(
      stage("span_clean", "x_dedup_span_remove"),
      stage("exact_dedup", "x_dedup_exact",
        """    input_stage: span_clean
          |    columns:
          |      text: clean_text
          |""".stripMargin),
      stage("curation_v4", "x_pipeline_curation_v4"),
      stage("emb_ann", "x_dedup_embedding_ann"),
      stage("emb_pq", "x_dedup_embedding_pq")).mkString)
    landings = PipelineConfig.loadFromPath(config.toString).stages
      .map(st => warehouse.resolve(st.destTable))
  }

  def args: Main.Args = Main.Args(modulesDir = modules.toString,
    configPath = config.toString, warehouse = Some(warehouse.toString))

  def beforeRun(): Unit =
    before = landings.map(d => d -> Landing.parts(d).keySet).toMap

  def check(): Seq[CheckResult] = {
    val got = Corpus.facts(spark, warehouse.toString)
    Corpus.ExpectedFacts.toSeq.sortBy(_._1).map { case (k, v) =>
      CheckResult(k, v.toString, got.get(k).map(_.toString).getOrElse("missing"))
    } ++ (got.keySet -- Corpus.ExpectedFacts.keySet).toSeq.sorted.map(k =>
      CheckResult(k, "absent", got(k).toString)) ++ rewritten()
  }

  /** Every stage landing holds only part files written since
    * [[beforeRun]], so a stage that skips its write cannot pass on the
    * previous run's files.
    */
  def rewritten(): Seq[CheckResult] = landings.map { d =>
    val now = Landing.parts(d).keySet
    CheckResult(s"${d.getFileName} rewritten", "true",
      (now.nonEmpty && (now & before.getOrElse(d, Set.empty)).isEmpty).toString)
  }

  def traced(t: Tracer, run: Int): Written = {
    val cfg = t.span(run, "cli.prepare", "cli")(PipelineConfig.loadFromPath(config.toString))
    val byName = cfg.stages.map(s => s.name -> s).toMap
    def priorOutput(n: String): DataFrame =
      spark.read.parquet(warehouse.resolve(byName(n).destTable).toString)
    cfg.stages.foldLeft(Written(0, 0, 0)) { (w, st) =>
      val out = t.span(run, s"ops.${st.name}.build", "ops")(
        StageRunner.run(spark, st, priorOutput))
      val c = t.span(run, s"ops.${st.name}.exec", "engine") {
        val c = out.cache()
        c.count()
        c
      }
      val dest = warehouse.resolve(st.destTable)
      val stats = try t.span(run, "writer.replace", "writer")(
        new FileWriter(dest.toString, "parquet").replace(c))
        finally { c.unpersist(blocking = true); () }
      val files = Landing.parts(dest)
      w + Written(stats.rowsWritten, files.values.sum, files.size.toLong)
    }
  }
}

object Workload {
  def leafFields(t: DataType): Int = t match {
    case s: StructType => s.fields.map(f => leafFields(f.dataType)).sum
    case a: ArrayType => leafFields(a.elementType)
    case _ => 1
  }

  /** Light module: projection, filter and nested-field access. */
  val PagedSql: String =
    """SELECT event_id, user_id, kind, amount_cents,
      |       ctx.device AS device, ctx.geo.country AS country,
      |       size(tags) AS n_tags, tags[0] AS first_tag
      |FROM SOURCE
      |WHERE kind <> 'heartbeat'""".stripMargin
  val PagedCols: Seq[String] = Seq("event_id", "user_id", "kind",
    "amount_cents", "device", "country", "n_tags", "first_tag")
  def pagedExpected(events: Seq[Event]): Iterator[Seq[Any]] =
    events.iterator.filter(_.kind != "heartbeat").map(e => Seq(e.eventId,
      e.userId, e.kind, e.amountCents, e.device, e.country, e.tags.size, e.tags.head))
}
