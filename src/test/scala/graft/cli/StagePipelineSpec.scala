package graft.cli

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.writer.{PgSql, PgTestServer}

/** The round-15 orchestrator extension end-to-end: `stages:` in
  * pipelines.yaml drive the library's analytics operators and
  * persisted-store lifecycle through the SAME CLI + writer stack as
  * the HTTP→SQL modules — a corpus-clean pipeline lands the
  * gate-verified relation in the parquet warehouse (and its rows
  * MERGE into a live PG 15 via the writer's generated SQL), and a
  * store build/maintain pipeline leaves a committed, queryable store
  * plus its stats audit row on the sink.
  */
class StagePipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val pg = new PgTestServer
  private var pgUp = false

  override def beforeAll(): Unit = {
    pgUp = pg.start()
    if (!pgUp) info(s"live PG unavailable, PG leg cancelled:\n${pg.lastBootLog}")
  }

  override def afterAll(): Unit = if (pgUp) pg.stop()

  private def sql(q: String): String = {
    val (code, out) = pg.sqlRaw(q)
    assert(code == 0, s"psql failed for:\n$q\n$out")
    out
  }

  test("corpus-clean stage from YAML: parquet warehouse + live-PG MERGE") {
    val dir = Files.createTempDirectory("stage_clean")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: clean_docs
         |    kind: query
         |    query: x_pipeline_corpus_clean
         |    input_dir: $sf
         |    dest_table: clean_docs
         |    primary_key: doc_id
         |""".stripMargin)
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse))
    assert(Main.run(args, spark) == 0)

    // the landed relation IS the gate-verified operator output
    // (collect everything BEFORE the idempotence re-run below — the
    // file warehouse overwrites, which invalidates this read's files)
    val out = spark.read.parquet(s"$warehouse/clean_docs")
    val want = graft.queries.Extensions
      .queries("x_pipeline_corpus_clean")(spark, sf)
    val n = out.count()
    assert(n > 0)
    assert(out.exceptAll(want).isEmpty && want.exceptAll(out).isEmpty)
    val rows = out.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val schema = PgSql.schemaOfSpark(out.schema)

    // stages are idempotent under re-run exactly like keyed modules
    // (primary_key → MERGE; the file warehouse maps that to overwrite)
    assert(Main.run(args, spark) == 0)
    assert(spark.read.parquet(s"$warehouse/clean_docs").count() == n)

    // --- live-PG leg: the writer's generated DDL + PG-15 MERGE with
    // the stage's actual rows (the QuickStartE2ESpec convention — the
    // sandbox has no PG JDBC driver jar, so the generated SQL runs
    // via psql)
    assume(pgUp, "live PG unavailable")
    val digits = sql("SHOW server_version").takeWhile(_.isDigit)
    assume(digits.nonEmpty && digits.toInt >= 15,
      s"server version digits '$digits', MERGE path needs 15+")
    def lits(rs: Seq[(Long, Int, Int)]): Seq[String] =
      rs.flatMap { case (a, b, c) => Seq(a.toString, b.toString, c.toString) }
    sql("DROP TABLE IF EXISTS clean_docs")
    sql(PgSql.createTableSql("clean_docs", schema, Seq("doc_id")))
    sql(PgTestServer.fill(
      PgSql.mergeSql("clean_docs", schema, Seq("doc_id"), rows.length),
      lits(rows.toSeq)))
    assert(sql("SELECT count(*) FROM clean_docs") == rows.length.toString)
    // re-MERGE is idempotent — the curation pipeline is re-runnable
    sql(PgTestServer.fill(
      PgSql.mergeSql("clean_docs", schema, Seq("doc_id"), rows.length),
      lits(rows.toSeq)))
    assert(sql("SELECT count(*) FROM clean_docs") == rows.length.toString)
  }

  test("store stages from YAML: build + maintain leave a committed store and audit rows") {
    val dir = Files.createTempDirectory("stage_store")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val storeDir = dir.resolve("ivfpq_store").toString
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: build_index
         |    kind: store
         |    store: ivfpq
         |    action: build
         |    input_dir: $sf
         |    table: embeddings
         |    dir: $storeDir
         |    dest_table: index_audit
         |  - name: maintain_index
         |    kind: store
         |    store: ivfpq
         |    action: maintain
         |    input_dir: $sf
         |    dir: $storeDir
         |    dest_table: index_audit
         |  - name: advise_index
         |    kind: store
         |    store: ivfpq
         |    action: recommend
         |    input_dir: $sf
         |    dir: $storeDir
         |    dest_table: index_advice
         |""".stripMargin)
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse))
    try {
      assert(Main.run(args, spark) == 0)

      // the store committed and answers queries (exhaustive settings
      // equal brute — the IvfPqStoreSpec contract, through YAML)
      val e = graft.engine.Tables.table(spark, sf, "embeddings")
      val got = graft.ops.IvfPqStore.querySelf(spark, storeDir,
        nProbe = 16, candidates = e.count().toInt).collect().toSeq
      assert(got == graft.ops.Similarity.knnBrute(e).collect().toSeq)

      // the audit relation carries the lifecycle: the file warehouse
      // appends, so both stages' stats rows land; a healthy fresh
      // store must decide maintain = no-op
      val audit = spark.read.parquet(s"$warehouse/index_audit")
      val byAction = audit.collect()
        .map(r => r.getAs[String]("action") ->
          r.getAs[Boolean]("compacted")).toMap
      assert(byAction.keySet == Set("build", "maintain"))
      assert(byAction("maintain") == false,
        "a fresh store must not be compacted by maintain")
      assert(audit.columns.contains("train_fingerprint"),
        "audit rows must carry the store lineage")
      // the advisory stage lands the rebuild-vs-compact decision row:
      // a healthy fresh store built FROM this corpus reads ok (the
      // recommend stage feeds the same input_dir corpus in for the
      // lineage-drift check — no false drift)
      val advice = spark.read.parquet(s"$warehouse/index_advice").head()
      assert(advice.getString(advice.fieldIndex("recommendation")) == "ok",
        advice.toString)
    } finally graft.ops.Pq.clearCodebookCache()
  }

  test("dedup action stage flags the batch against the persisted store") {
    val dir = Files.createTempDirectory("stage_dedup")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val storeDir = dir.resolve("gram_store").toString
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: build_grams
         |    kind: store
         |    store: dedup
         |    action: build
         |    input_dir: $sf
         |    dir: $storeDir
         |    dest_table: dedup_audit
         |  - name: flag_batch
         |    kind: store
         |    store: dedup
         |    action: dedup
         |    input_dir: $sf
         |    dir: $storeDir
         |    dest_table: batch_flags
         |""".stripMargin)
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse))
    try {
      assert(Main.run(args, spark) == 0)
      // the landed flags ARE the library operator's output (here the
      // "batch" is the corpus itself — the machinery pin, same as the
      // store specs; a real pipeline points input_dir at today's data)
      val got = spark.read.parquet(s"$warehouse/batch_flags")
      val docs = graft.engine.Tables.table(spark, sf, "documents")
      val want = graft.ops.DedupStore.dedupAgainst(spark, docs, storeDir)
      assert(got.count() > 0)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    } finally graft.ops.Dedup.clearShingleCache()
  }

  test("family advisory + rebuild from YAML: drift goes recommend(rebuild) -> rebuild -> ok") {
    val sp = spark
    val dir = Files.createTempDirectory("stage_family")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    // a corpus whose CONTENT moved on, at a different path: rows were
    // dropped since the stores were built, so listing AND content
    // fingerprints both mismatch — real drift. (A byte-identical
    // re-layout reads ok under the r17 two-level check: the content
    // fingerprint overrules the listing signal.)
    val corpusB = Files.createDirectories(dir.resolve("corpusB")).toString
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach {
      case (t, key) =>
        graft.engine.Tables.table(sp, sf, t)
          .filter(org.apache.spark.sql.functions.col(key) % 5 =!= 0)
          .write.parquet(s"$corpusB/$t.parquet")
    }
    val stores = Seq("dedup", "ivf", "pq", "ivfpq")
    def storeDir(s: String) = dir.resolve(s"store_$s").toString
    def stages(phase: String, action: String, input: String) =
      stores.map { s =>
        s"""  - name: ${phase}_$s
           |    kind: store
           |    store: $s
           |    action: $action
           |    input_dir: $input
           |    dir: ${storeDir(s)}
           |    dest_table: ${phase}_audit
           |""".stripMargin
      }.mkString
    def runYaml(body: String): Unit = {
      Files.writeString(dir.resolve("pipelines.yaml"), "stages:\n" + body)
      assert(Main.run(Main.Args(
        modulesDir = modules.toString,
        configPath = dir.resolve("pipelines.yaml").toString,
        warehouse = Some(warehouse)), sp) == 0)
    }
    try {
      // build from corpus A, then ask for advice against corpus B:
      // every family must read the drift and say REBUILD
      runYaml(stages("build", "build", sf) +
        stages("advise1", "recommend", corpusB))
      val advice1 = sp.read.parquet(s"$warehouse/advise1_audit").collect()
        .map(r => r.getAs[String]("stage") ->
          (r.getAs[String]("recommendation"),
            r.getAs[Boolean]("fingerprint_drift"))).toMap
      assert(advice1.keySet == stores.map(s => s"advise1_$s").toSet)
      stores.foreach { s =>
        assert(advice1(s"advise1_$s") == ("rebuild", true),
          s"$s advisory on a drifted corpus: ${advice1(s"advise1_$s")}")
      }
      // ACT on the advisory from YAML alone: rebuild re-fits geometry
      // from the CURRENT corpus under the maintainer lease, and the
      // follow-up advisory against the same corpus reads ok
      runYaml(stages("rebuild", "rebuild", corpusB) +
        stages("advise2", "recommend", corpusB))
      val advice2 = sp.read.parquet(s"$warehouse/advise2_audit").collect()
        .map(r => r.getAs[String]("stage") ->
          r.getAs[String]("recommendation")).toMap
      stores.foreach { s =>
        assert(advice2(s"advise2_$s") == "ok",
          s"$s advisory after rebuild: ${advice2(s"advise2_$s")}")
      }
      // the rebuild really is a fresh fit: version advanced and the
      // lineage re-fingerprinted (the landed audit rows carry both)
      def fp(table: String, stage: String): String = {
        val r = sp.read.parquet(s"$warehouse/$table")
          .filter(org.apache.spark.sql.functions.col("stage") === stage)
          .head()
        r.getString(r.fieldIndex("train_fingerprint"))
      }
      assert(fp("build_audit", "build_ivfpq") !=
        fp("rebuild_audit", "rebuild_ivfpq"),
        "rebuild must re-fingerprint the lineage to the current corpus")
      val st = graft.ops.IvfPqStore.stats(sp, storeDir("ivfpq")).head()
      assert(st.getLong(st.fieldIndex("version")) >= 2)
    } finally {
      graft.ops.Pq.clearCodebookCache()
      graft.ops.Dedup.clearShingleCache()
    }
  }

  test("advisory knobs ride the stage: a non-default margin flips the ivfpq verdict") {
    val sp = spark
    val dir = Files.createTempDirectory("stage_knobs")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val storeDir = dir.resolve("ivfpq").toString
    def runStage(extra: String, dest: String): Unit = {
      Files.writeString(dir.resolve("pipelines.yaml"),
        s"""stages:
           |  - name: $dest
           |    kind: store
           |    store: ivfpq
           |    action: recommend
           |    input_dir: $sf
           |    dir: $storeDir
           |    dest_table: $dest
           |$extra""".stripMargin)
      assert(Main.run(Main.Args(
        modulesDir = modules.toString,
        configPath = dir.resolve("pipelines.yaml").toString,
        warehouse = Some(warehouse)), sp) == 0)
    }
    try {
      graft.ops.IvfPqStore.save(
        graft.engine.Tables.table(sp, sf, "embeddings"), storeDir)
      // default margin: the healthy store reads ok
      runStage("", "ok_row")
      val ok = sp.read.parquet(s"$warehouse/ok_row").head()
      assert(ok.getString(ok.fieldIndex("recommendation")) == "ok")
      // a deployment running dedup at an impossibly tight margin must
      // get the advisory judged at THAT bar: the same store reads
      // rebuild (sampled gap exceeds the configured margin)
      runStage("    margin: 0.0001\n", "tight_row")
      val tight = sp.read.parquet(s"$warehouse/tight_row").head()
      assert(tight.getString(tight.fieldIndex("recommendation")) == "rebuild",
        tight.toString)
      assert(tight.getDouble(tight.fieldIndex("sampled_adc_gap")) > 0.0001)
    } finally graft.ops.Pq.clearCodebookCache()
  }

  test("stage chaining + column mapping: scrub -> exact-dedup composes through the warehouse") {
    val sp = spark
    val dir = Files.createTempDirectory("stage_chain")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    // stage 1 lands the span-scrubbed corpus; stage 2 consumes THAT
    // relation (input_stage), renaming clean_text into the operator's
    // expected `text` — scrub → exact-dedup, a natural curation chain
    // with no hand-wired paths and no fixture shape
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: scrub
         |    kind: query
         |    query: x_dedup_span_remove
         |    input_dir: $sf
         |    dest_table: scrubbed
         |  - name: dedup_clean
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    input_stage: scrub
         |    table_as: documents
         |    columns:
         |      text: clean_text
         |    write_mode: replace
         |    dest_table: dedup_clean
         |""".stripMargin)
    assert(Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse)), sp) == 0)
    val got = sp.read.parquet(s"$warehouse/dedup_clean")
    // the composed result equals the library composition over the
    // same two operators
    val scrubbed = graft.queries.Extensions
      .queries("x_dedup_span_remove")(sp, sf)
      .withColumnRenamed("clean_text", "text")
    val want = graft.engine.Tables.withOverlay(Map("documents" -> scrubbed))(
      graft.queries.Extensions.queries("x_dedup_exact")(sp, sf))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "the YAML chain must equal the library composition")
    // a chained-from stage lands REPLACE by default: re-running the
    // scheduled pipeline must not feed an accumulated double copy of
    // the upstream relation downstream (every doc would read as an
    // exact duplicate) — with the terminal stage's explicit
    // write_mode: replace, the composed result stays identical
    assert(Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse)), sp) == 0)
    val again = sp.read.parquet(s"$warehouse/dedup_clean")
    assert(again.exceptAll(want).isEmpty && want.exceptAll(again).isEmpty,
      "a re-run must not compound the upstream relation")
  }

  test("columns adapter: a renamed-column corpus runs a registry operator unchanged") {
    val sp = spark
    val dir = Files.createTempDirectory("stage_cols")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    // a production-shaped corpus: same documents, different column
    // names, landed under a non-fixture table name
    graft.engine.Tables.table(sp, sf, "documents")
      .withColumnRenamed("doc_id", "my_id")
      .withColumnRenamed("text", "body")
      .write.parquet(s"$dir/my_corpus.parquet")
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: dedup_my_corpus
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $dir
         |    table: my_corpus
         |    table_as: documents
         |    columns:
         |      doc_id: my_id
         |      text: body
         |    dest_table: dedup_flags
         |""".stripMargin)
    assert(Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse)), sp) == 0)
    val got = sp.read.parquet(s"$warehouse/dedup_flags")
    val want = graft.queries.Extensions.queries("x_dedup_exact")(sp, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "renamed columns must not change the operator result")
    // a typo'd mapping refuses loudly instead of running on the wrong
    // column (withColumnRenamed would silently no-op)
    Files.writeString(dir.resolve("bad.yaml"),
      s"""stages:
         |  - name: typo
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $dir
         |    table: my_corpus
         |    table_as: documents
         |    columns:
         |      text: bodyy
         |    dest_table: x
         |""".stripMargin)
    // Main catches per-stage failures into the exit code
    assert(Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("bad.yaml").toString,
      warehouse = Some(warehouse)), sp) != 0)
  }

  test("stream stage from YAML: checkpointed drain grows the store exactly-once") {
    val sp = spark
    val dir = Files.createTempDirectory("stage_stream")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val storeDir = dir.resolve("ivf_store").toString
    val srcDir = Files.createDirectories(dir.resolve("incoming")).toString
    val ckpt = dir.resolve("ckpt").toString
    val e = graft.engine.Tables.table(sp, sf, "embeddings")
    import org.apache.spark.sql.functions.col
    def delta(lo: Long, hi: Long) = e
      .filter(col("vec_id") >= lo - 10000 && col("vec_id") < hi - 10000)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    // the store exists before the stream (geometry is frozen at build)
    graft.ops.IvfIndex.save(e, storeDir, nCells = 16)
    val streamYaml =
      s"""stages:
         |  - name: grow_index
         |    kind: stream
         |    stream: index_ingest
         |    store: ivf
         |    input_dir: $sf
         |    source_dir: $srcDir
         |    checkpoint: $ckpt
         |    dir: $storeDir
         |    dest_table: stream_audit
         |""".stripMargin
    Files.writeString(dir.resolve("pipelines.yaml"), streamYaml)
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse))
    def nVectors: Long = {
      val s = graft.ops.IvfIndex.stats(sp, storeDir).head()
      s.getLong(s.fieldIndex("n_vectors"))
    }
    // drop 1: 50 fresh vectors arrive; one scheduled run drains them
    delta(10000, 10050).coalesce(1).write.mode("append").parquet(srcDir)
    assert(Main.run(args, sp) == 0)
    assert(nVectors == e.count() + 50, "the drain must ingest drop 1")
    // restart with NOTHING new: the durable checkpoint makes the
    // second scheduled run a no-op — exactly-once across restarts
    assert(Main.run(args, sp) == 0)
    assert(nVectors == e.count() + 50, "a re-run must not double-ingest")
    // drop 2 arrives; the next run ingests exactly the delta
    delta(10050, 10080).coalesce(1).write.mode("append").parquet(srcDir)
    assert(Main.run(args, sp) == 0)
    assert(nVectors == e.count() + 80, "the drain must ingest only drop 2")
    // and the grown store answers exactly: exhaustive probes equal
    // brute force over the union (the append-parity contract, reached
    // through YAML + checkpointed streaming)
    val all = e.select(col("vec_id"), col("embedding"))
      .unionByName(delta(10000, 10080))
    val got = graft.ops.IvfIndex.querySelf(sp, storeDir, nProbe = 16)
      .collect().toSeq
    assert(got == graft.ops.Similarity.knnBrute(all).collect().toSeq)
    // the audit trail landed once per run
    assert(sp.read.parquet(s"$warehouse/stream_audit").count() == 3)
  }

  test("takedown stage: YAML delete tombstones; maintain reclaims at the stage's threshold") {
    val sp = spark
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("stage_takedown")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val storeDir = dir.resolve("ivf_store").toString
    val e = graft.engine.Tables.table(sp, sf, "embeddings")
    graft.ops.IvfIndex.save(e, storeDir, nCells = 16)
    // the takedown batch arrives as a production-shaped relation with
    // its own id column name — the columns adapter maps it
    val victims = Seq(7L, 11L, 42L)
    sp.createDataFrame(victims.map(Tuple1(_))).toDF("erase_id")
      .write.parquet(s"$dir/erasures.parquet")
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: takedown
         |    kind: store
         |    store: ivf
         |    action: delete
         |    input_dir: $dir
         |    table: erasures
         |    columns:
         |      vec_id: erase_id
         |    dir: $storeDir
         |    dest_table: takedown_audit
         |  - name: reclaim
         |    kind: store
         |    store: ivf
         |    action: maintain
         |    input_dir: $sf
         |    dir: $storeDir
         |    max_tombstone_ratio: 0.0001
         |    dest_table: takedown_audit
         |""".stripMargin)
    assert(Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse)), sp) == 0)
    // retraction is effective: the erased ids never appear as neighbors
    val got = graft.ops.IvfIndex.querySelf(sp, storeDir, nProbe = 16)
      .collect().toSeq
    assert(got == graft.ops.Similarity.knnBrute(
      e.filter(!col("vec_id").isin(victims: _*))).collect().toSeq)
    // the audit trail carries the lifecycle: delete filed 3 tombstones,
    // the stage's own (non-default) threshold made maintain compact,
    // and the fresh version physically reclaimed them
    val audit = sp.read.parquet(s"$warehouse/takedown_audit").collect()
      .map(r => r.getAs[String]("action") ->
        (r.getAs[Long]("n_tombstoned"), r.getAs[Boolean]("compacted"))).toMap
    assert(audit("delete") == ((3L, false)), audit.toString)
    assert(audit("maintain") == ((0L, true)),
      s"maintain at ratio 0.0001 must compact and reclaim: $audit")
  }

  test("embedding-dedup stream stage: flags land per batch, exactly-once across runs") {
    val sp = spark
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("stage_edstream")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val storeDir = dir.resolve("ivfpq_store").toString
    val srcDir = Files.createDirectories(dir.resolve("incoming")).toString
    val outDir = dir.resolve("flags").toString
    val ckpt = dir.resolve("ckpt").toString
    val e = graft.engine.Tables.table(sp, sf, "embeddings")
    try {
      graft.ops.IvfPqStore.save(e, storeDir, nCells = 16)
      def batchDf(lo: Long, hi: Long) = e
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Files.writeString(dir.resolve("pipelines.yaml"),
        s"""stages:
           |  - name: flag_incoming
           |    kind: stream
           |    stream: embedding_dedup
           |    input_dir: $sf
           |    source_dir: $srcDir
           |    checkpoint: $ckpt
           |    dir: $storeDir
           |    out_dir: $outDir
           |    min_cosine: 0.3
           |    margin: 2.0
           |    dest_table: incoming_flags
           |""".stripMargin)
      val args = Main.Args(
        modulesDir = modules.toString,
        configPath = dir.resolve("pipelines.yaml").toString,
        warehouse = Some(warehouse))
      batchDf(0, 8).coalesce(1).write.mode("append").parquet(srcDir)
      assert(Main.run(args, sp) == 0)
      // the landed flags equal the batch operator over the same batch
      // (pass-all margin: the exact-parity configuration)
      val want1 = graft.ops.IvfPqStore.dedupAgainst(sp, storeDir,
        batchDf(0, 8), minCosine = 0.3, nProbe = 4, margin = 2.0)
        .collect().toSeq
      def landed = sp.read.parquet(outDir)
        .select(col("query_id"), col("corpus_id"), col("cosine"))
        .orderBy(col("query_id"), col("corpus_id"))
      assert(want1.nonEmpty)
      assert(landed.collect().toSeq == want1)
      // a re-run with nothing new must not re-flag (exactly-once)
      assert(Main.run(args, sp) == 0)
      assert(landed.collect().toSeq == want1)
      // drop 2: only the delta lands, in its own batch partition
      batchDf(8, 12).coalesce(1).write.mode("append").parquet(srcDir)
      assert(Main.run(args, sp) == 0)
      val want2 = graft.ops.IvfPqStore.dedupAgainst(sp, storeDir,
        batchDf(8, 12), minCosine = 0.3, nProbe = 4, margin = 2.0)
        .collect().toSeq
      assert(landed.collect().toSeq == (want1 ++ want2)
        .sortBy(r => (r.getLong(0), r.getLong(1))))
      // the WAREHOUSE landing mirrors the cumulative flag relation:
      // a relation-producing stream stage lands REPLACE by default, so
      // three scheduled runs leave ONE copy of each flag row, not a
      // re-appended copy of the accumulated relation per run
      assert(sp.read.parquet(s"$warehouse/incoming_flags").count() ==
        (want1.size + want2.size).toLong,
        "the warehouse table must mirror the flags, not compound them")
    } finally graft.ops.Pq.clearCodebookCache()
  }

  test("store-dedup stream stage: text flags land per batch against the gram store") {
    val sp = spark
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("stage_sdstream")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val storeDir = dir.resolve("gram_store").toString
    val srcDir = Files.createDirectories(dir.resolve("incoming")).toString
    val docs = graft.engine.Tables.table(sp, sf, "documents")
    try {
      graft.ops.DedupStore.save(docs, storeDir)
      def batchDf(lo: Long, hi: Long) = docs
        .filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id"), col("text"))
      Files.writeString(dir.resolve("pipelines.yaml"),
        s"""stages:
           |  - name: flag_text
           |    kind: stream
           |    stream: store_dedup
           |    input_dir: $sf
           |    source_dir: $srcDir
           |    checkpoint: ${dir.resolve("ckpt")}
           |    dir: $storeDir
           |    out_dir: ${dir.resolve("flags")}
           |    dest_table: text_flags
           |""".stripMargin)
      val args = Main.Args(
        modulesDir = modules.toString,
        configPath = dir.resolve("pipelines.yaml").toString,
        warehouse = Some(warehouse))
      batchDf(0, 40).coalesce(1).write.mode("append").parquet(srcDir)
      assert(Main.run(args, sp) == 0)
      // parity with the batch operator over the same incoming batch
      val want = graft.ops.DedupStore.dedupAgainst(sp, batchDf(0, 40),
        storeDir).collect().toSeq
      def landed = sp.read.parquet(dir.resolve("flags").toString)
        .select(col("inc_id"), col("corpus_id"), col("jaccard"))
        .orderBy(col("inc_id"), col("corpus_id"))
      assert(want.nonEmpty)
      assert(landed.collect().toSeq == want)
      // exactly-once across scheduled runs
      assert(Main.run(args, sp) == 0)
      assert(landed.collect().toSeq == want)
    } finally graft.ops.Dedup.clearShingleCache()
  }

  test("classify stream stage: predictions land exactly-once with the frozen model") {
    val sp = spark
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("stage_clstream")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val srcDir = Files.createDirectories(dir.resolve("incoming")).toString
    val outDir = dir.resolve("preds").toString
    val ckpt = dir.resolve("ckpt").toString
    val docs = graft.engine.Tables.table(sp, sf, "documents")
    def batchDf(lo: Long, hi: Long) = docs
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id"), col("text"))
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: score_incoming
         |    kind: stream
         |    stream: classify
         |    input_dir: $sf
         |    source_dir: $srcDir
         |    checkpoint: $ckpt
         |    out_dir: $outDir
         |    dest_table: incoming_preds
         |""".stripMargin)
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse))
    batchDf(0, 40).coalesce(1).write.mode("append").parquet(srcDir)
    assert(Main.run(args, sp) == 0)
    val preds = sp.read.parquet(outDir)
    assert(preds.count() == 40, "every streamed doc scores exactly once")
    assert(preds.select(col("doc_id")).distinct().count() == 40)
    assert(preds.columns.toSet.contains("predicted"))
    // exactly-once across scheduled runs
    assert(Main.run(args, sp) == 0)
    assert(sp.read.parquet(outDir).count() == 40)
    batchDf(40, 50).coalesce(1).write.mode("append").parquet(srcDir)
    assert(Main.run(args, sp) == 0)
    assert(sp.read.parquet(outDir).count() == 50)
    // warehouse mirror (replace default), one row per doc across runs
    assert(sp.read.parquet(s"$warehouse/incoming_preds").count() == 50)
  }

  test("a stream stage racing an empty source is a no-op, not an error") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("stage_empty_src")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val storeDir = dir.resolve("ivf_store").toString
    val srcDir = Files.createDirectories(dir.resolve("incoming")).toString
    val emb = graft.engine.Tables.table(sp, sf, "embeddings")
    graft.ops.IvfIndex.save(emb, storeDir, nCells = 16)
    // every store-backed stream gets its built store, so each drain
    // reaches its no-op path instead of the missing-store refusal
    val ivfpqDir = dir.resolve("ivfpq_store").toString
    val gramDir = dir.resolve("gram_store").toString
    val phashDir = dir.resolve("phash_store").toString
    val afpDir = dir.resolve("afp_store").toString
    graft.ops.IvfPqStore.save(emb, ivfpqDir, nCells = 16)
    graft.ops.DedupStore.save(
      graft.engine.Tables.table(sp, sf, "documents"), gramDir)
    val cells = (1 to 3).map(i =>
      graft.ops.Multimodal.cellsForBits(i * 0x9E3779B97F4A7C15L))
    graft.ops.PhashStore.save(cells.zipWithIndex.map { case (c, i) =>
      (i.toLong, graft.ops.Multimodal.grayCellsPng(c)) }
      .toDF("doc_id", "payload"), phashDir)
    graft.ops.AfpStore.save(cells.zipWithIndex.map { case (c, i) =>
      (i.toLong, graft.ops.Multimodal.energyCellsWav(c)) }
      .toDF("doc_id", "payload"), afpDir)
    def flagStage(name: String, stream: String, store: String): String =
      s"""  - name: $name
         |    kind: stream
         |    stream: $stream
         |    input_dir: $sf
         |    source_dir: ${Files.createDirectories(dir.resolve(s"in_$name"))}
         |    checkpoint: ${dir.resolve(s"ck_$name")}
         |    dir: $store
         |    out_dir: ${dir.resolve(s"out_$name")}
         |    dest_table: $name
         |""".stripMargin
    // the nightly pipeline fires before the crawler's first drop: the
    // ingest drain no-ops and still lands its audit row; the classify
    // and dedup drains no-op and land an EMPTY typed relation
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: grow_index
         |    kind: stream
         |    stream: index_ingest
         |    store: ivf
         |    input_dir: $sf
         |    source_dir: $srcDir
         |    checkpoint: ${dir.resolve("ck1")}
         |    dir: $storeDir
         |    dest_table: stream_audit
         |  - name: score_incoming
         |    kind: stream
         |    stream: classify
         |    input_dir: $sf
         |    source_dir: ${Files.createDirectories(dir.resolve("in2"))}
         |    checkpoint: ${dir.resolve("ck2")}
         |    out_dir: ${dir.resolve("preds")}
         |    dest_table: preds
         |""".stripMargin +
        flagStage("emb_flags", "embedding_dedup", ivfpqDir) +
        flagStage("text_flags", "store_dedup", gramDir) +
        flagStage("image_flags", "image_dedup", phashDir) +
        flagStage("audio_flags", "audio_dedup", afpDir))
    assert(Main.run(Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse)), sp) == 0,
      "an empty source must not fail the pipeline")
    val audit = sp.read.parquet(s"$warehouse/stream_audit").head()
    assert(audit.getAs[String]("action") == "stream_ingest")
    val preds = sp.read.parquet(s"$warehouse/preds")
    assert(preds.count() == 0 && preds.columns.contains("predicted"))
    Seq(
      "emb_flags" -> "query_id BIGINT, corpus_id BIGINT, cosine DOUBLE",
      "text_flags" -> "inc_id BIGINT, corpus_id BIGINT, jaccard DOUBLE",
      "image_flags" -> "inc_id BIGINT, corpus_id BIGINT, hamming BIGINT",
      "audio_flags" -> "inc_id BIGINT, corpus_id BIGINT, hamming BIGINT")
      .foreach { case (table, ddl) =>
        val landed = sp.read.parquet(s"$warehouse/$table")
        val want = org.apache.spark.sql.types.StructType
          .fromDDL(s"$ddl, graft_batch BIGINT")
        assert(landed.count() == 0, table)
        assert(landed.schema.map(f => (f.name, f.dataType)) ==
          want.map(f => (f.name, f.dataType)), s"$table: ${landed.schema}")
      }
  }

  test("a chained stage refuses a FAILED upstream instead of reading stale output") {
    val sp = spark
    val dir = Files.createTempDirectory("stage_poison")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val yaml =
      s"""stages:
         |  - name: scrub
         |    kind: query
         |    query: x_dedup_span_remove
         |    input_dir: %INPUT%
         |    dest_table: scrubbed
         |  - name: dedup_clean
         |    kind: query
         |    query: x_dedup_exact
         |    input_dir: $sf
         |    input_stage: scrub
         |    table_as: documents
         |    columns:
         |      text: clean_text
         |    dest_table: dedup_clean
         |""".stripMargin
    // run 1: healthy — both stages land
    Files.writeString(dir.resolve("pipelines.yaml"),
      yaml.replace("%INPUT%", sf))
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse))
    assert(Main.run(args, sp) == 0)
    val healthy = sp.read.parquet(s"$warehouse/dedup_clean").count()
    assert(healthy > 0)
    // run 2: the upstream stage fails (bogus input dir) — the chained
    // stage must refuse to consume run 1's stale warehouse output, so
    // BOTH stages count as failed and dedup_clean is NOT overwritten
    // with data derived from stale upstream rows
    Files.writeString(dir.resolve("pipelines.yaml"),
      yaml.replace("%INPUT%", s"$dir/nonexistent"))
    assert(Main.run(args, sp) == 2,
      "the failed upstream must poison its consumer")
  }

  test("auto action: one stage reads the advisory and acts, converging to ok") {
    val sp = spark
    val dir = Files.createTempDirectory("stage_auto")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val storeDir = dir.resolve("ivfpq").toString
    val corpusB = Files.createDirectories(dir.resolve("corpusB")).toString
    graft.engine.Tables.table(sp, sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") % 5 =!= 0)
      .write.parquet(s"$corpusB/embeddings.parquet")
    try {
      // built from corpus A; the nightly auto stage sees corpus B,
      // whose CONTENT has moved on (rows dropped) — real drift, not
      // just a re-layout
      graft.ops.IvfPqStore.save(
        graft.engine.Tables.table(sp, sf, "embeddings"), storeDir)
      Files.writeString(dir.resolve("pipelines.yaml"),
        s"""stages:
           |  - name: nightly_auto
           |    kind: store
           |    store: ivfpq
           |    action: auto
           |    input_dir: $corpusB
           |    dir: $storeDir
           |    dest_table: auto_audit
           |""".stripMargin)
      val args = Main.Args(
        modulesDir = modules.toString,
        configPath = dir.resolve("pipelines.yaml").toString,
        warehouse = Some(warehouse))
      // night 1: drift detected AND acted on — the store is rebuilt
      // from the current corpus in the same stage
      assert(Main.run(args, sp) == 0)
      def audit = sp.read.parquet(s"$warehouse/auto_audit")
        .orderBy(org.apache.spark.sql.functions.col("recommendation"))
        .collect().map(r => (r.getAs[String]("recommendation"),
          r.getAs[Boolean]("acted"))).toSeq
      assert(audit == Seq(("rebuild", true)), audit.toString)
      val st = graft.ops.IvfPqStore.stats(sp, storeDir).head()
      assert(st.getLong(st.fieldIndex("version")) == 2,
        "auto must have rebuilt the store")
      // night 2: same corpus — the loop converges to ok, no action
      assert(Main.run(args, sp) == 0)
      assert(audit.contains(("ok", false)), audit.toString)
      val st2 = graft.ops.IvfPqStore.stats(sp, storeDir).head()
      assert(st2.getLong(st2.fieldIndex("version")) == 2,
        "a healthy store must not be touched")
    } finally graft.ops.Pq.clearCodebookCache()
  }

  test("production composition: stream ingest + auto maintenance in one YAML") {
    val sp = spark
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("stage_prod")
    val modules = Files.createDirectories(dir.resolve("modules"))
    val warehouse = dir.resolve("warehouse").toString
    val storeDir = dir.resolve("ivf_store").toString
    val srcDir = Files.createDirectories(dir.resolve("incoming")).toString
    val e = graft.engine.Tables.table(sp, sf, "embeddings")
    graft.ops.IvfIndex.save(e, storeDir, nCells = 16)
    // the nightly pipeline: drain today's drop into the index, then
    // let auto decide — the stream stage has STOPPED before auto runs,
    // so the maintainer lease is free (the stop-maintain-restart
    // contract, composed inside one scheduled YAML run)
    Files.writeString(dir.resolve("pipelines.yaml"),
      s"""stages:
         |  - name: grow
         |    kind: stream
         |    stream: index_ingest
         |    store: ivf
         |    input_dir: $sf
         |    source_dir: $srcDir
         |    checkpoint: ${dir.resolve("ckpt")}
         |    dir: $storeDir
         |    dest_table: nightly_audit
         |  - name: keep_healthy
         |    kind: store
         |    store: ivf
         |    action: auto
         |    input_dir: $sf
         |    dir: $storeDir
         |    max_ingests: 2
         |    dest_table: nightly_advice
         |""".stripMargin)
    val args = Main.Args(
      modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(warehouse))
    def delta(lo: Long, hi: Long) = e
      .filter(col("vec_id") >= lo - 10000 && col("vec_id") < hi - 10000)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    def stats(name: String): Long = {
      val s = graft.ops.IvfIndex.stats(sp, storeDir).head()
      s.getLong(s.fieldIndex(name))
    }
    // night 1: one drop — ingests 2 ("0" + stream_0), under the cap,
    // auto says ok and touches nothing
    delta(10000, 10020).coalesce(1).write.mode("append").parquet(srcDir)
    assert(Main.run(args, sp) == 0)
    assert(stats("n_ingests") == 2)
    // night 2: the second drop pushes ingests to 3 > max_ingests=2 —
    // the SAME yaml now compacts, collapsing ingests back to one
    delta(10020, 10040).coalesce(1).write.mode("append").parquet(srcDir)
    assert(Main.run(args, sp) == 0)
    assert(stats("n_ingests") == 1,
      "auto must have compacted the fragmented store")
    // night 3: the next drop lands into the compacted store — back
    // under the cap, ok again
    delta(10040, 10060).coalesce(1).write.mode("append").parquet(srcDir)
    assert(Main.run(args, sp) == 0)
    assert(stats("n_ingests") == 2)
    // nothing lost across the whole season: exhaustive probes equal
    // brute over everything ingested
    val all = e.select(col("vec_id"), col("embedding"))
      .unionByName(delta(10000, 10060))
    assert(graft.ops.IvfIndex.querySelf(sp, storeDir, nProbe = 16)
      .collect().toSeq ==
      graft.ops.Similarity.knnBrute(all).collect().toSeq)
    // the advisory table tells the season's story: two healthy nights,
    // one acted-on compact
    val verdicts = sp.read.parquet(s"$warehouse/nightly_advice")
      .collect().map(r => (r.getAs[String]("recommendation"),
        r.getAs[Boolean]("acted"))).toSeq
    assert(verdicts.count(_ == ("ok", false)) == 2 &&
      verdicts.count(_ == ("compact", true)) == 1, verdicts.toString)
  }

  test("stage config validation is loud") {
    import graft.config.PipelineConfig
    intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        "stages:\n  - name: s\n    kind: nope\n    input_dir: /x\n")
    }
    intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        "stages:\n  - name: s\n    kind: query\n    input_dir: /x\n")
    }
    intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        "stages:\n  - name: s\n    kind: store\n    input_dir: /x\n" +
          "    store: ivfpq\n    action: append\n    dir: /s\n")
    }
    // write_mode is a two-value enum; a typo must not silently append
    intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        "stages:\n  - name: s\n    kind: query\n    query: x_dedup_exact\n" +
          "    input_dir: /x\n    write_mode: overwrite\n")
    }
    // input_stage must reference an EARLIER stage
    intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        "stages:\n  - name: s\n    kind: query\n    query: x_dedup_exact\n" +
          "    input_dir: /x\n    input_stage: later\n" +
          "  - name: later\n    kind: query\n    query: x_dedup_exact\n" +
          "    input_dir: /x\n")
    }
    // two input declarations would have a silent winner
    intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        "stages:\n  - name: a\n    kind: query\n    query: x_dedup_exact\n" +
          "    input_dir: /x\n" +
          "  - name: s\n    kind: query\n    query: x_dedup_exact\n" +
          "    input_dir: /x\n    input_stage: a\n    table: t\n")
    }
    // adapters on streams whose input is source_dir parse-but-ignore:
    // refused (only classify adapts a training corpus)
    intercept[IllegalArgumentException] {
      PipelineConfig.parse(
        "stages:\n  - name: s\n    kind: stream\n    stream: index_ingest\n" +
          "    store: ivf\n    dir: /s\n    input_dir: /x\n" +
          "    source_dir: /in\n    checkpoint: /ck\n" +
          "    columns:\n      vec_id: id\n")
    }
  }
}
