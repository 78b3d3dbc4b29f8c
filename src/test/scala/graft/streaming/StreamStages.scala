package graft.streaming

import java.nio.file.Files

import graft.config.PipelineConfig
import graft.config.PipelineConfig.Stage

/** How the streaming specs drive a `kind: stream` stage: parsed from
  * YAML like a pipeline's, over `sourceDir` with a fresh checkpoint
  * and one source file per trigger, so a multi-file source drains as
  * several micro-batches.
  */
object StreamStages {

  def stage(stream: String, sourceDir: String, fields: String*): Stage = {
    val ck = Files.createTempDirectory("graft_stream_ck").toString
    PipelineConfig.parse((Seq("stages:", "  - name: spec",
      "    kind: stream", s"    stream: $stream", "    input_dir: /unused",
      s"    source_dir: $sourceDir", s"    checkpoint: $ck",
      "    max_files_per_trigger: 1") ++ fields.map("    " + _))
      .mkString("\n")).stages.head
  }

  /** The `graft_batch=<id>` partitions a dedup drain landed. */
  def landedBatches(outDir: String): Int =
    new java.io.File(outDir).list()
      .count(_.startsWith(s"${BatchedParquetSink.BatchCol}="))
}
