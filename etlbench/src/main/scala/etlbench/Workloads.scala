package etlbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.cli.{Main, StageRunner}
import graft.config.PipelineConfig
import graft.config.PipelineConfig.Pagination
import graft.engine.Engine
import graft.http.HttpJsonSource
import graft.http.HttpJsonSource.{FetchSpec, TotalHint}
import graft.infer.SchemaInfer
import graft.template.Templates
import graft.writer.{FileWriter, WriteMode}

/** Counters one traced run reports besides span times. */
final case class LayerCounts(
    httpRequests: Long = 0, httpPages: Long = 0, httpRetries: Long = 0,
    httpBytes: Long = 0, httpMaxInflight: Long = 0, httpServerS: Double = 0,
    inferRows: Long = 0, writerRows: Long = 0, writerFiles: Long = 0,
    writerBytes: Long = 0)

/** One workload's inputs, set up once per process and driven through
  * the CLI's entry point (`Main.run`) or, traced, layer by layer.
  */
trait Workload extends AutoCloseable {
  def name: String
  /** Modules plus stages one pipeline run attempts. */
  def units: Int
  def args: Main.Args
  /** Untimed reset before every run: fresh warehouse (and memos). */
  def beforeRun(): Unit
  /** Landed rows and the number of landed tables whose digest differs
    * from the expected one.
    */
  def check(spark: SparkSession): (Long, Int)
  /** The same pipeline, one span per layer call, each layer forced. */
  def traced(spark: SparkSession, tr: Tracer): LayerCounts
}

object Workloads {
  /** `etl_fanout_merge` runs both ETL modules in one pipeline run; the
    * single-module workloads isolate one fetch path.
    */
  val Names: Seq[String] = Seq("etl_fanout_merge", "analytics_refit",
    "etl_fanout", "etl_sequential_merge")

  private def write(p: Path, s: String): Path = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.walk(dir)
      try s.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }

  private val retryYaml =
    """    retry:
      |      max_attempts: 3
      |      max_delay_secs: 1
      |      min_delay_secs: 0
      |""".stripMargin

  /** One HTTP source of an ETL workload: its endpoint, its YAML entry
    * (given the endpoint's URL), its SQL module and the digest its
    * landed table must have.
    */
  final case class Module(endpoint: Endpoint, sourceYaml: String => String,
      sql: String, dest: String, expected: () => Digest)

  /** HTTP sources, one SQL module each, landed in the parquet file
    * warehouse; one stub serves every endpoint.
    */
  final class Etl(val name: String, dir: Path, mods: Seq[Module], threads: Int)
      extends Workload {
    private val stub = new ApiStub(mods.map(_.endpoint), threads)
    private val modules = dir.resolve("modules")
    private val yaml = write(dir.resolve("pipelines.yaml"),
      mods.map(m => m.sourceYaml(stub.url(m.endpoint)) + retryYaml)
        .mkString("sources:\n", "", ""))
    mods.foreach(m => write(modules.resolve(s"${m.dest}.sql"), m.sql))
    private val warehouse = dir.resolve("warehouse")
    private lazy val want = mods.map(m => m.dest -> m.expected())

    val units = mods.size
    val args = Main.Args(modulesDir = modules.toString,
      configPath = yaml.toString, warehouse = Some(warehouse.toString))

    def beforeRun(): Unit = { deleteTree(warehouse); stub.reset() }

    def check(spark: SparkSession): (Long, Int) = {
      val got = want.map { case (dest, w) =>
        val g = Digest.of(spark.read.parquet(warehouse.resolve(dest).toString))
        if (g != w) System.err.println(
          s"[etlbench] $name: landed $dest differs\n  want ${w.render}\n  got  ${g.render}")
        (g.rows, g == w)
      }
      (got.map(_._1).sum, got.count(!_._2))
    }

    def traced(spark: SparkSession, tr: Tracer): LayerCounts = {
      val cfg = tr.span("config") { PipelineConfig.loadFromPath(yaml.toString) }
      val landed = Templates.listSqlModules(modules.toString).map { m =>
        val (module, source) = tr.span("template") {
          val r = Templates.render(m, Files.readString(modules.resolve(m)))
          (r, cfg.source(r.source.get))
        }
        tracedModule(spark, tr, module.sql, source)
      }
      val files = landed.flatMap(d => dataFiles(warehouse.resolve(d._1)))
      LayerCounts(httpRequests = stub.requests.get, httpPages = stub.distinctPages,
        httpRetries = stub.retries.get, httpBytes = stub.bytes.get,
        httpMaxInflight = stub.maxInflight.get,
        httpServerS = stub.busyNanos.get / 1e9, inferRows = landed.map(_._2).sum,
        writerRows = landed.map(_._3).sum, writerFiles = files.size,
        writerBytes = files.map(Files.size).sum)
    }

    /** fetch → infer → SQL → write for one module, each layer forced;
      * returns (dest table, rows inferred, rows written).
      */
    private def tracedModule(spark: SparkSession, tr: Tracer, moduleSql: String,
        source: PipelineConfig.Source): (String, Long, Long) = {
      import spark.implicits._
      val spec = FetchSpec(source.url, source.headers, source.queryParams,
        source.dataPath, source.retry, bearerToken = source.bearerToken)
      val pageSize = source.pageSize.get
      val (rows, sample) = tr.span("http") {
        val (ds, sample) = source.pagination match {
          case Some(Pagination.PageNumber(pp, ppp, items, _)) =>
            val f = HttpJsonSource.fetchPageNumber(spark, spec, pp, ppp, pageSize,
              items.map(TotalHint.Items))
            (f.rows, Some(f.firstPage))
          case Some(Pagination.LimitOffset(lp, op)) =>
            (spark.createDataset(HttpJsonSource.fetchLimitOffset(spec, lp, op,
              pageSize).flatten.toSeq), None)
          case other => throw new IllegalStateException(s"pagination $other")
        }
        val cached: Dataset[String] = ds.cache()
        cached.count()
        (cached, sample)
      }
      val (parsed, inferred) = tr.span("infer") {
        val df = sample.fold(SchemaInfer.readNested(spark, rows))(s =>
          SchemaInfer.readNestedSampled(spark, rows, s)).cache()
        (df, df.count())
      }
      val sql = Templates.rewriteIdentifier(moduleSql, source.name, source.destTable)
      val mode = if (source.primaryKeyInDest.isDefined) WriteMode.Merge else WriteMode.Append
      val written = tr.span("engine") {
        Engine.withSqlOver(spark, parsed, source.destTable, sql) { out =>
          val o = out.cache()
          o.count()
          try tr.span("writer") {
            new FileWriter(warehouse.resolve(source.destTable).toString)
              .write(o, mode).rowsWritten
          } finally o.unpersist()
        }
      }
      parsed.unpersist()
      rows.unpersist()
      (source.destTable, inferred, written)
    }

    def close(): Unit = stub.close()
  }

  /** Splits rendered rows into page bodies of `size` rows. */
  private def bodies(rows: IndexedSeq[String], size: Int,
      frame: Seq[String] => String): IndexedSeq[Array[Byte]] =
    rows.grouped(size).map(p => ApiStub.utf8(frame(p))).toIndexedSeq

  /** ~200k nested rows, 1,000 per page_number page with a total: the
    * pages after the first are fetched in parallel on executors; a
    * seeded ~2 % of pages answer 503 once.
    */
  def fanout(seed: Long, n: Int): Module = {
    val per = 1000
    val rows = Gen.orders(seed, n)
    val pages = bodies(rows.toIndexedSeq.map(Gen.orderJson), per,
      p => s"""{"total":$n,"data":[${p.mkString(",")}]}""")
    val r = new java.util.SplittableRandom(seed ^ 0x503L)
    val failing = (1 to pages.size).filter(_ => r.nextInt(50) == 0).toSet
    Module(Endpoint("/orders", pages, per, "page_number", failing),
      url => s"""  - name: orders_api
         |    url: $url
         |    table_destination_name: orders
         |    data_path: /data
         |    page_size: $per
         |    pagination:
         |      kind: page_number
         |      page_param: page
         |      per_page_param: per_page
         |      total_items_pointer: /total
         |""".stripMargin,
      """SELECT id, user.name AS user_name, user.country AS country, amount,
        |  CAST(size(tags) AS BIGINT) AS n_tags
        |FROM {{ use_source("orders_api") }}
        |WHERE status <> 'cancelled'
        |""".stripMargin,
      "orders",
      () => (Digest.expected _).tupled(Gen.fanoutLanded(rows)))
  }

  /** ~100k NDJSON rows, 500 per limit_offset page, fetched one page
    * after another by the driver; 40 % of the keys come twice, and the
    * keyed source merges (the file warehouse overwrites).
    */
  def sequentialMerge(seed: Long, n: Int): Module = {
    val per = 500
    val rows = Gen.accounts(seed, n)
    val pages = bodies(rows.toIndexedSeq.map(Gen.accountJson), per,
      _.mkString("", "\n", "\n"))
    Module(Endpoint("/accounts", pages, per, "limit_offset"),
      url => s"""  - name: accounts_api
         |    url: $url
         |    table_destination_name: accounts
         |    primary_key_in_dest: id
         |    page_size: $per
         |    pagination:
         |      kind: limit_offset
         |      limit_param: limit
         |      offset_param: offset
         |""".stripMargin,
      """SELECT id, version, name, amount, updated.by AS updated_by
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY version DESC) AS rn
        |  FROM {{ use_source("accounts_api") }}
        |) latest
        |WHERE rn = 1
        |""".stripMargin,
      "accounts",
      () => (Digest.expected _).tupled(Gen.mergeLanded(rows)))
  }

  /** `analytics_refit`: refit-heavy query stages and a PQ store rebuild
    * over a seeded documents/embeddings corpus, landing in the file
    * warehouse. The corpus is one of [[Analytics.Variants]] fixed
    * variants, so every stage has a golden digest.
    */
  final class Analytics(dir: Path, spark: SparkSession, val variant: Int,
      goldens: Map[(Int, String), String]) extends Workload {
    val name = "analytics_refit"
    private val corpus = dir.resolve("corpus")
    private val store = dir.resolve("pq_store")
    private val warehouse = dir.resolve("warehouse")

    {
      import spark.implicits._
      val seed = 7919L * (variant + 1)
      Gen.documents(seed, 2500).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(corpus.resolve("documents.parquet").toString)
      Gen.embeddings(seed, 1000).toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(corpus.resolve("embeddings.parquet").toString)
    }

    val stages: Seq[(String, String)] = Seq(
      "knn_ivf" -> "x_knn_ivf",
      "embedding_pq" -> "x_dedup_embedding_pq",
      "ngram_prefix" -> "x_dedup_ngram_prefix")
    private val yaml = write(dir.resolve("pipelines.yaml"),
      stages.map { case (n, q) =>
        s"""  - name: $n
           |    kind: query
           |    query: $q
           |    input_dir: $corpus
           |    dest_table: $n
           |""".stripMargin
      }.mkString("stages:\n", "", "") +
        s"""  - name: pq_rebuild
           |    kind: store
           |    store: pq
           |    action: rebuild
           |    input_dir: $corpus
           |    dir: $store
           |    dest_table: pq_rebuild
           |""".stripMargin)
    private val modules = Files.createDirectories(dir.resolve("modules"))
    val stageNames: Seq[String] = stages.map(_._1) :+ "pq_rebuild"

    val units = stageNames.size
    val args = Main.Args(modulesDir = modules.toString,
      configPath = yaml.toString, warehouse = Some(warehouse.toString))

    /** Every memo the program lets a caller clear: a scheduled run on
      * new data misses them all, so a run must not measure memo hits.
      * Memos without a public clear are listed in the README.
      */
    def beforeRun(): Unit = {
      graft.ops.Pq.clearCodebookCache()
      graft.ops.Kmeans.clearCache()
      graft.ops.Similarity.clearQuantizerCache()
      graft.ops.Dedup.clearPairCache()
      graft.ops.Dedup.clearShingleCache()
      graft.ops.CorpusStats.clearBigramTfCache()
      deleteTree(warehouse)
      deleteTree(store)
    }

    /** `train_fingerprint` is a hash of the training files' paths
      * (`StoreVersioning.trainFingerprint`), so it differs per checkout
      * and per set-up; every other landed column is pinned.
      */
    def digests(spark: SparkSession): Seq[(String, Digest)] =
      stageNames.map(s => s -> Digest.of(
        spark.read.parquet(warehouse.resolve(s).toString).drop("train_fingerprint")))

    def check(spark: SparkSession): (Long, Int) = {
      val got = digests(spark)
      val bad = got.filterNot { case (s, d) =>
        goldens.get((variant, s)).contains(d.render)
      }
      bad.foreach { case (s, d) => System.err.println(
        s"[etlbench] analytics_refit: stage $s differs from its golden\n" +
          s"  want ${goldens.getOrElse((variant, s), "<none>")}\n  got  ${d.render}")
      }
      (got.map(_._2.rows).sum, bad.size)
    }

    def traced(spark: SparkSession, tr: Tracer): LayerCounts = {
      val cfg = tr.span("config") { PipelineConfig.loadFromPath(yaml.toString) }
      var rows, files, bytes = 0L
      cfg.stages.foreach { st =>
        val out = tr.span(s"stage.${st.name}") {
          val o = StageRunner.run(spark, st).cache()
          o.count()
          o
        }
        try {
          rows += tr.span("writer") {
            new FileWriter(warehouse.resolve(st.destTable).toString)
              .write(out, WriteMode.Append).rowsWritten
          }
        } finally out.unpersist()
        val fs = dataFiles(warehouse.resolve(st.destTable))
        files += fs.size
        bytes += fs.map(Files.size).sum
      }
      LayerCounts(writerRows = rows, writerFiles = files, writerBytes = bytes)
    }

    def close(): Unit = ()
  }

  object Analytics {
    /** Corpus variants with recorded goldens; the seed picks one. */
    val Variants = 4

    def readGoldens(p: Path): Map[(Int, String), String] =
      if (!Files.exists(p)) Map.empty
      else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
          val Array(v, s, d) = l.split("\t", 3)
          (v.toInt, s) -> d
        }.toMap
  }

  def setup(name: String, dir: Path, seed: Long, spark: SparkSession,
      threads: Int, goldens: Path): Workload = {
    val rows = 50000
    deleteTree(dir)
    Files.createDirectories(dir)
    name match {
      case "etl_fanout_merge" =>
        new Etl(name, dir, Seq(fanout(seed, rows), sequentialMerge(seed, rows)), threads)
      case "etl_fanout" => new Etl(name, dir, Seq(fanout(seed, rows)), threads)
      case "etl_sequential_merge" =>
        new Etl(name, dir, Seq(sequentialMerge(seed, rows)), threads)
      case "analytics_refit" => new Analytics(dir, spark,
        Math.floorMod(seed, Analytics.Variants.toLong).toInt,
        Analytics.readGoldens(goldens))
    }
  }
}
