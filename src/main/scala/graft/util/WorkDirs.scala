package graft.util

/** Driver-local work dirs: the stream twins' staging/checkpoint roots,
  * the batch round-trip queries (CSV/sink round-trips, the
  * foreachBatch maintenance family), and the unset-conf defaults of the
  * session-materialization roots ([[graft.ops.Scratch]]'s scratch root
  * and `Streams.stageRoot`).
  *
  * Every such dir nests under ONE lazily-created JVM root with the
  * JVM's ONE shutdown hook, which removes the whole tree — so verify
  * and bench runs leave no parquet staging copies or shared tables
  * under /tmp. Within-run accumulation across repeated invocations of
  * the same twin is bounded by the [[graft.ops.Scratch.once]] memo most
  * twins stage through; this hook bounds the across-run residue.
  *
  * Driver-local `java.nio.file` is correct here because these roots
  * are only ever used at local[*] (the twins' micro-batch sources and
  * checkpoints); a cluster deployment points the conf keys
  * (`spark.graft.stagingDir`, `spark.graft.scratchDir`) at a shared
  * filesystem instead and never reaches this path.
  */
object WorkDirs {
  private lazy val root: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-work-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(): Unit
      }
      rm(d.toFile)
    }))
    d
  }

  /** A fresh dir under the hook-cleaned root. */
  def temp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString
}
