package graft.engine

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{Main, MirrorFiles}

/** A scheduled re-run of the same pipeline must reuse the generated
  * classes its plans compiled the first time. One refit of the IVF kNN,
  * PQ near-dup, n-gram prefix dedup and PQ store rebuild stages needs
  * more distinct classes than Spark's default codegen cache holds (100),
  * so at that size the LRU evicts them all before they are needed again
  * and every warm run recompiles every class; [[Sessions.configure]]
  * sizes the cache to hold the working set. Every memo with a public
  * clear is cleared before each pass, as on a run over new data, so the
  * passes re-plan the same work rather than hit a memo.
  *
  * A warm pass may still compile a few classes (0 to 8 in nine
  * recorded warm passes): adaptive execution re-plans a query as its
  * shuffle stages finish, and the whole-stage codegen id written into
  * each generated class can then differ from the previous run. The
  * bound therefore sits far below the working set, not at 0.
  */
class CodegenReuseSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** An eighth of the ~165 classes one pass compiles cold. */
  private val MaxWarmCompiles = 20

  test("the third pass of the analytics refit stages reuses its compiled classes") {
    val dir = Files.createTempDirectory("codegen_reuse")
    val warehouse = dir.resolve("warehouse")
    val store = dir.resolve("pq_store")
    val queries = Seq("knn_ivf" -> "x_knn_ivf",
      "embedding_pq" -> "x_dedup_embedding_pq",
      "ngram_prefix" -> "x_dedup_ngram_prefix")
    val yaml = Files.writeString(dir.resolve("pipelines.yaml"),
      queries.map { case (name, query) =>
        s"""  - name: $name
           |    kind: query
           |    query: $query
           |    input_dir: $sf
           |    dest_table: $name
           |""".stripMargin
      }.mkString("stages:\n", "", "") +
        s"""  - name: pq_rebuild
           |    kind: store
           |    store: pq
           |    action: rebuild
           |    input_dir: $sf
           |    dir: $store
           |    dest_table: pq_rebuild
           |""".stripMargin)
    val args = Main.Args(
      modulesDir = Files.createDirectories(dir.resolve("modules")).toString,
      configPath = yaml.toString, warehouse = Some(warehouse.toString))

    def pass(): Long = {
      graft.ops.Pq.clearCodebookCache()
      graft.ops.Kmeans.clearCache()
      graft.ops.Similarity.clearQuantizerCache()
      graft.ops.Dedup.clearPairCache()
      graft.ops.Dedup.clearShingleCache()
      graft.ops.CorpusStats.clearBigramTfCache()
      MirrorFiles.deleteRec(warehouse)
      MirrorFiles.deleteRec(store)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(Main.run(args, spark) == 0, "every stage must succeed")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }

    val compiled = Seq.fill(3)(pass())
    assert(compiled(2) <= MaxWarmCompiles,
      s"classes compiled per pass: ${compiled.mkString(", ")}")
  }
}
