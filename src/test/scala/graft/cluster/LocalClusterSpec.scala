package graft.cluster

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Multi-executor smoke suite: everything else in `sbt test` runs on
  * `local[n]`, where driver and executors share one JVM and one
  * classloader — a closure that accidentally captures a
  * non-serializable field, a class missing from the executor
  * classpath, or codegen referencing a driver-only class all pass
  * silently there and only explode on a real cluster. This suite
  * boots `local-cluster[2,2,1536]` (2 worker processes × 2 cores,
  * separate executor JVMs, real serialization + RPC) and runs a
  * representative slice: the HTTP executor fan-out, a codegen
  * extension function, the multimodal decoder seam, and a dedup
  * query with its persist/localCheckpoint lifecycle.
  *
  * Runs in its OWN forked JVM (see `Test/testGrouping` in build.sbt):
  * Spark allows one SparkContext per JVM and every other suite shares
  * the singleton `local[4]` session.
  */
class LocalClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var server: HttpServer = _
  private var base: String = _

  // executor JVMs are launched by the worker, not by sbt, so they
  // inherit neither the test classpath nor the JDK-17 --add-opens
  // flags build.sbt gives the driver — pass both through explicitly
  private def executorJavaOptions: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  override def beforeAll(): Unit = {
    spark = graft.engine.Sessions.configure(
      SparkSession.builder()
        .master("local-cluster[2,2,1536]")
        .appName("graft-cluster-smoke")
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions", executorJavaOptions),
      shufflePartitions = 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // 230 items: more than the 100-row schema sample, so at 50 a page
    // both the sample's page 2 and pages 3..5 are fetched by executors
    server.createContext("/paged", (ex: HttpExchange) => {
      val params = graft.HttpStub.qparams(ex)
      val page = params("page").toInt
      val per = params("per_page").toInt
      val from = (page - 1) * per + 1
      val to = math.min(page * per, 230)
      val items =
        if (from > 230) "[]"
        else (from to to).map(i => s"""{"id": $i, "name": "u$i"}""")
          .mkString("[", ",", "]")
      graft.HttpStub.respond(ex, s"""{"total": 230, "data": $items}""")
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    if (spark != null) spark.stop()
  }

  test("executors are separate JVMs and run distributed work") {
    val sp = spark; import sp.implicits._
    // a shuffle + aggregate that must cross executor boundaries
    val n = spark.range(0, 10000, 1, 8)
      .select((col("id") % 7).as("k"))
      .groupBy("k").count().as[(Long, Long)].collect().toMap
    assert(n.values.sum == 10000 && n.size == 7)
    // the work really ran outside the driver process
    val driverPid = ProcessHandle.current().pid()
    val executorPids = spark.range(0, 8, 1, 8)
      .mapPartitions(_ => Iterator(ProcessHandle.current().pid()))
      .as[Long].collect().toSet
    assert(!executorPids.contains(driverPid) && executorPids.nonEmpty)
  }

  test("codegen extension function evaluates on executors") {
    val sp = spark; import sp.implicits._
    val out = Seq("abc", "hello world", "").toDF("t")
      .repartition(4)
      .selectExpr("t", "rolling_hash(t) AS h")
      .as[(String, Long)].collect().toMap
    // expected values from direct driver-side eval of the expression —
    // bit-equality proves the executor-compiled codegen matches
    def expected(s: String): Long =
      graft.functions.RollingHash(
        org.apache.spark.sql.catalyst.expressions.Literal(s))
        .eval(null).asInstanceOf[Long]
    assert(out("abc") == expected("abc"))
    assert(out("hello world") == expected("hello world"))
    assert(out("") == expected(""))
  }

  test("int8 pack/dot round-trips binary payloads across executor JVMs") {
    val sp = spark; import sp.implicits._
    // the packed form is a byte[] flowing through real serialization —
    // exactly what local[n] cannot exercise; verify the quantized
    // self-dot computed on executors matches driver-side arithmetic
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(40)(Seq.fill(16)(rnd.nextFloat() * 2 - 1))
    val out = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .repartition(4)
      .selectExpr("id",
        "int8_dot(int8_pack(v, cast(array_max(transform(v, x -> abs(x))) as double) / 127.0d)," +
          " int8_pack(v, cast(array_max(transform(v, x -> abs(x))) as double) / 127.0d)) AS d")
      .as[(Long, Long)].collect().toMap
    def expectedSelfDot(v: Seq[Float]): Long = {
      val scale = v.map(x => math.abs(x)).max.toDouble / 127.0
      val codes = v.map(x => math.floor(x.toDouble / scale + 0.5).toLong)
      codes.map(c => c * c).sum
    }
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(out(i.toLong) == expectedSelfDot(v), s"vector $i")
    }
  }

  test("HTTP page_number fan-out fetches pages from executor processes") {
    import graft.http.HttpJsonSource._
    import graft.config.PipelineConfig.Retry
    val spec = FetchSpec(s"$base/paged", Seq.empty, Seq.empty,
      Some("/data"), Retry(maxAttempts = 3, maxDelaySecs = 1, minDelaySecs = 0))
    val fetched = fetchPageNumber(spark, spec, "page", "per_page", 50,
      Some(TotalHint.Items("/total")))
    val ids = fetched.rows
      .select(get_json_object(col("value"), "$.id").cast("int").as("id"))
      .collect().map(_.getInt(0)).toSet
    assert(ids == (1 to 230).toSet)
  }

  test("multimodal decoder seam survives executor serialization") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, Array[Byte](1, 2, 3, 4)),
      (2L, Array.empty[Byte]),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
      .repartition(3)
    val out = graft.ops.Multimodal.withMediaMeta(df, "payload",
      graft.ops.Multimodal.StubDecoder)
    assert(out.count() == 3)
    val meta = out.selectExpr("id", "media.format").as[(Long, String)]
      .collect().toMap
    assert(meta.values.toSet == Set("stub"))
  }

  test("IVF ANN (KMeans quantizer + fused cell-join scoring) runs on the cluster") {
    val sp = spark; import sp.implicits._
    // two tight clusters; near-dup pairs exist only within a cluster
    val emb = (0 until 8).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.tabulate(8)(d => base * (1.0f + 0.001f * i * d)))
    }.toDF("vec_id", "embedding")
    try {
      val pairs = graft.ops.Similarity
        .embeddingNearDupAnn(emb, minCosine = 0.9, nCells = 2, nProbe = 2,
          trainMod = 1)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      val sameSign = for {
        a <- 0L until 8L; b <- (a + 1) until 8L if a % 2 == b % 2
      } yield (a, b)
      assert(pairs == sameSign.toSet)
    } finally graft.ops.Similarity.clearQuantizerCache()
  }

  test("persisted IVF index builds and answers queries across executor JVMs") {
    val sp = spark; import sp.implicits._
    val emb = (0 until 8).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.tabulate(8)(d => base * (1.0f + 0.001f * i * d)))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cluster_ivf").toString
    try {
      // executors write the cell-partitioned index; a separate query
      // plan reads it back with the dynamic-pruning probe join — the
      // whole build→persist→read→query loop under real serialization
      graft.ops.IvfIndex.save(emb, dir, nCells = 2, trainMod = 1)
      val got = graft.ops.IvfIndex
        .querySelf(sp, dir, k = 3, nQueries = 4, nProbe = 2)
        .collect().toSeq
      val want = graft.ops.Similarity.knnBrute(emb, k = 3, nQueries = 4)
        .collect().toSeq
      assert(got == want, s"exhaustive-probe index query must equal brute " +
        s"(got ${got.size} rows, want ${want.size})")
    } finally graft.ops.Similarity.clearQuantizerCache()
  }

  test("stateful streaming (mapGroupsWithState) runs across executor JVMs") {
    // the state store, the GroupState update closure, and the tuple
    // encoders all serialize to separate executor processes here —
    // the classic cluster-only failure surface local[n] cannot see
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cluster-stream").toString
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 2L),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 3L),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 4L)
    ).toDF("user_id", "ts", "event_id")
    events.write.mode("overwrite").parquet(dir)
    val q = graft.streaming.EventWindows.streamingUserSessions(
      sp, dir, events.schema, "cluster_sessions")
    try q.processAllAvailable() finally q.stop()
    // update mode emits one row per user per micro-batch; both columns
    // are monotone, so fold with max (the documented consumer contract)
    val out = sp.table("cluster_sessions")
      .groupBy("user_id")
      .agg(max("n_sessions").as("ns"), max("max_session_events").as("me"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, ns, me) => u -> ((ns, me)) }.toMap
    assert(out == Map(1L -> ((2L, 2L)), 2L -> ((1L, 1L))))
  }

  test("dedup query (persist + localCheckpoint lifecycle) runs on the cluster") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about spark cluster testing"),
      (4L, "yet another unrelated text with no overlap whatsoever here")
    ).toDF("doc_id", "text")
    try {
      val dups = graft.ops.Dedup.minhashLsh(docs)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(dups == Set((1L, 2L)))
    } finally {
      graft.ops.Dedup.clearPairCache()
      graft.ops.Dedup.clearShingleCache()
    }
  }

  test("BigQuery REST writer posts from executor JVMs with working auth") {
    val sp = spark; import sp.implicits._
    // stub jobs.query on the driver-side server; executor processes
    // must reach it over real HTTP with the serialized auth + schema
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    server.createContext("/bigquery/v2/projects/pc/queries", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (ex.getRequestHeaders.getFirst("Authorization") == "Bearer cl-tok") {
        queries.add(mapper.readTree(body).get("query").asText())
        graft.HttpStub.respond(ex, """{"jobComplete": true}""")
      } else graft.HttpStub.respond(ex, """{"error": "no auth"}""", status = 401)
    })
    val df = spark.range(0, 40, 1, 4)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    val stats = new graft.writer.BigQueryWriter(base, "pc", "ds", "tc",
      graft.writer.BigQueryWriter.StaticToken("cl-tok"), batchSize = 7)
      .write(df, graft.writer.WriteMode.Append)
    assert(stats.rowsWritten == 40)
    import scala.jdk.CollectionConverters._
    val qs = queries.asScala.toList
    assert(qs.count(_.startsWith("CREATE TABLE")) == 1)
    // every row landed exactly once through the partitioned batches
    val ids = qs.filter(_.startsWith("INSERT")).flatMap(q =>
      "\\((\\d+), 'v\\d+'\\)".r.findAllMatchIn(q).map(_.group(1).toLong))
    assert(ids.sorted == (0L until 40L).toList)
  }

  test("ClickHouse HTTP writer inserts from executor JVMs; versions ordered per partition") {
    val sp = spark; import sp.implicits._
    // the writer's HTTP transport must work where it matters: each
    // EXECUTOR process POSTs its own partition batches with the
    // serialized auth + schema, and the version stamping must hold
    // under real multi-JVM execution, not just local[n]
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    server.createContext("/ch", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (ex.getRequestHeaders.getFirst("X-ClickHouse-Key") == "ch-pass") {
        bodies.add(body)
        graft.HttpStub.respond(ex, "")
      } else graft.HttpStub.respond(ex, "auth", status = 403)
    })
    val df = spark.range(0, 40, 1, 4)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    val stats = new graft.writer.ClickHouseWriter(s"$base/ch", "u", "ch-pass",
      "tch", primaryKey = Seq("id"), batchSize = 7)
      .write(df, graft.writer.WriteMode.Merge)
    assert(stats.rowsWritten == 40)
    import scala.jdk.CollectionConverters._
    val qs = bodies.asScala.toList
    assert(qs.count(_.startsWith("CREATE TABLE")) == 1)
    assert(qs.count(_ == "OPTIMIZE TABLE `tch` FINAL") == 1)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val rows = qs.filter(_.startsWith("INSERT"))
      .flatMap(_.linesIterator.drop(1).filter(_.nonEmpty))
      .map(l => mapper.readTree(l))
    // every row landed exactly once through the partitioned batches,
    // each stamped with a version from THIS write's ingest epoch
    assert(rows.map(_.get("id").asLong()).sorted == (0L until 40L).toList)
    val vers = rows.map(_.get("__graft_ver").asLong())
    assert(vers.distinct.size >= 4, "per-partition sequences must not all collide")
    assert(vers.map(_ >> 31).distinct.size == 1,
      "all rows of one write share one ingest epoch")
  }
}
