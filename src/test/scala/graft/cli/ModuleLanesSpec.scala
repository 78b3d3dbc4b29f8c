package graft.cli

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.logging.log4j.Level
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.writer.{FileSyncState, FileWriter, WriteMode}

/** `Main.run`'s module lanes: modules grouped by physical destination,
  * each lane in listing order, the lanes concurrently — and the state
  * the lanes share (sync-state files, write counts) kept per module.
  */
class ModuleLanesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  private var base: String = _

  // /meet/a and /meet/b each wait (10 s at most) until the other has
  // been requested: only concurrent modules can both succeed
  @volatile private var met = Map.empty[String, CountDownLatch]
  // /seq: one row whose `seq` is the current round
  private val round = new AtomicInteger(0)
  // /ordered/<name>: whether the lane's first table had landed when
  // the second module's GET arrived
  private val landedBefore = new ConcurrentLinkedQueue[Boolean]()
  @volatile private var orderedDest: Path = _

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    pool = Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.createContext("/meet", (ex: HttpExchange) => {
      val me = ex.getRequestURI.getPath.stripPrefix("/meet/")
      val other = if (me == "a") "b" else "a"
      met(me).countDown()
      if (met(other).await(10, TimeUnit.SECONDS))
        graft.HttpStub.respond(ex, s"""{"data": [{"id": 1, "who": "$me"}]}""")
      else graft.HttpStub.respond(ex, """{"error": "alone"}""", status = 400)
    })
    server.createContext("/seq", (ex: HttpExchange) => {
      val r = round.get()
      graft.HttpStub.respond(ex, s"""{"data": [{"id": $r, "seq": $r}]}""")
    })
    server.createContext("/ordered", (ex: HttpExchange) => {
      val me = ex.getRequestURI.getPath.stripPrefix("/ordered/")
      if (me == "second")
        landedBefore.add(Files.exists(orderedDest.resolve("_SUCCESS")))
      val rows = (1 to 3).map(i => s"""{"id": $i, "who": "$me"}""")
      graft.HttpStub.respond(ex, rows.mkString("""{"data": [""", ",", "]}"))
    })
    server.createContext("/rows", (ex: HttpExchange) => {
      val n = graft.HttpStub.qparams(ex)("n").toInt
      val rows = (1 to n).map(i => s"""{"id": $i}""")
      graft.HttpStub.respond(ex, rows.mkString("""{"data": [""", ",", "]}"))
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  private val retry =
    """    retry:
      |      max_attempts: 1
      |      max_delay_secs: 1
      |      min_delay_secs: 0
      |""".stripMargin

  /** A pipeline dir: one module per (module file, source name, path,
    * dest table), each `SELECT *` over a plain source.
    */
  private def pipeline(name: String, mods: Seq[(String, String, String, String)],
      extra: String => String = _ => ""): (Path, Main.Args) = {
    val dir = Files.createTempDirectory(name)
    val modules = Files.createDirectories(dir.resolve("modules"))
    mods.foreach { case (file, src, _, _) =>
      Files.writeString(modules.resolve(file),
        s"""SELECT * FROM {{ use_source("$src") }}""")
    }
    Files.writeString(dir.resolve("pipelines.yaml"), mods.map {
      case (_, src, path, dest) =>
        s"""  - name: $src
           |    url: $base$path
           |    table_destination_name: $dest
           |    data_path: /data
           |""".stripMargin + extra(src) + retry
    }.mkString("sources:\n", "", ""))
    (dir, Main.Args(modulesDir = modules.toString,
      configPath = dir.resolve("pipelines.yaml").toString,
      warehouse = Some(dir.resolve("warehouse").toString)))
  }

  test("inLanes: one lane runs on the caller; lanes keep their order and " +
      "never run wider than the bound") {
    val caller = Thread.currentThread()
    val one = Main.inLanes(Seq(Seq(1, 2, 3)), 4)(i => (i, Thread.currentThread()))
    assert(one.map(_._1) == Seq(1, 2, 3) && one.forall(_._2 eq caller))

    val live, peak = new AtomicInteger(0)
    val lanes = Seq.tabulate(6)(l => Seq.tabulate(5)(i => l * 10 + i))
    val got = Main.inLanes(lanes, 3) { i =>
      peak.accumulateAndGet(live.incrementAndGet(), math.max)
      Thread.sleep(5)
      live.decrementAndGet()
      i
    }
    assert(got == lanes.flatten)
    assert(peak.get() > 1 && peak.get() <= 3, s"peak ${peak.get()}")
    assert(intercept[IllegalStateException](
      Main.inLanes(Seq(Seq(1), Seq(2)), 2)(i =>
        if (i == 2) throw new IllegalStateException("lane 2") else i))
      .getMessage == "lane 2")
  }

  test("modules on different destinations run concurrently: two endpoints " +
      "that each wait for the other both land") {
    val spark = graft.SparkTestSession.spark
    met = Map("a" -> new CountDownLatch(1), "b" -> new CountDownLatch(1))
    val (_, args) = pipeline("lanes-meet", Seq(
      ("a.sql", "meet_a", "/meet/a", "met_a"),
      ("b.sql", "meet_b", "/meet/b", "met_b")))
    assert(Main.run(args, spark) == 0)
    for (w <- Seq("a", "b"))
      assert(spark.read.parquet(s"${args.warehouse.get}/met_$w")
        .collect().map(_.getAs[String]("who")).toSeq == Seq(w))
  }

  test("two modules on one dest_table share a lane: both append, in " +
      "listing order") {
    val spark = graft.SparkTestSession.spark
    landedBefore.clear()
    val (dir, args) = pipeline("lanes-ordered", Seq(
      ("1_first.sql", "first", "/ordered/first", "shared"),
      ("2_second.sql", "second", "/ordered/second", "shared"),
      ("3_other.sql", "other", "/rows?n=4", "other")))
    orderedDest = dir.resolve("warehouse").resolve("shared")
    assert(Main.run(args, spark) == 0)
    assert(landedBefore.toArray.toSeq == Seq(true),
      "the second module must be fetched after the first one landed")
    val who = spark.read.parquet(orderedDest.toString)
      .groupBy("who").count().collect().map(r => r.getString(0) -> r.getLong(1))
    assert(who.toMap == Map("first" -> 3L, "second" -> 3L))
    assert(spark.read.parquet(s"${args.warehouse.get}/other").count() == 4)
  }

  test("two incremental sources on one FileSyncState both advance their " +
      "marks, round after round") {
    val spark = graft.SparkTestSession.spark
    val (dir, args) = pipeline("lanes-marks", Seq(
      ("x.sql", "seq_x", "/seq", "seq_x"),
      ("y.sql", "seq_y", "/seq", "seq_y")),
      extra = _ => "    primary_key_in_dest: id\n    incremental:\n      cursor_field: seq\n")
    val state = new FileSyncState(dir.resolve("state.json").toString)
    for (r <- 1 to 20) {
      round.set(r)
      assert(Main.run(args, spark, Map.empty[String, String].get,
        syncStateOverride = Some(state)) == 0)
      assert(state.get("seq_x").contains(r.toString) &&
        state.get("seq_y").contains(r.toString), s"round $r")
    }
  }

  test("concurrent lanes and concurrent writes each report their own row " +
      "count") {
    val spark = graft.SparkTestSession.spark
    val (_, args) = pipeline("lanes-counts", Seq(
      ("c3.sql", "three", "/rows?n=3", "three"),
      ("c7.sql", "seven", "/rows?n=7", "seven"),
      ("c11.sql", "eleven", "/rows?n=11", "eleven")))
    val (failed, infos) =
      graft.LogCapture(Level.INFO, "graft.cli")(Main.run(args, spark))
    assert(failed == 0)
    for ((m, n, t) <- Seq(("c3.sql", 3, "three"), ("c7.sql", 7, "seven"),
        ("c11.sql", 11, "eleven")))
      assert(infos.exists(_.startsWith(s"module $m loaded $n rows into $t ")),
        infos.filter(_.startsWith("module ")).mkString(" | "))

    // the writers' shared observation name: eight writes at once, each
    // counted on its own
    val dir = Files.createTempDirectory("lanes-writes")
    val sizes = (1 to 8).map(_ * 100L)
    val writes = Main.inLanes(sizes.map(Seq(_)), 8) { n =>
      new FileWriter(dir.resolve(s"t$n").toString)
        .write(spark.range(n).toDF("id"), WriteMode.Append).rowsWritten
    }
    assert(writes == sizes)
  }
}
