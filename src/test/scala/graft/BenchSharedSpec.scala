package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Every shared table Bench bills (the same declared list it runs)
  * builds once per session: under a fresh `spark.graft.scratchDir`,
  * the first call writes parquet under that root and a second call
  * writes none.
  */
class BenchSharedSpec extends AnyFunSuite with SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private lazy val root = Files.createTempDirectory("graft_bench_shared")

  private def parquet(): Set[Path] = {
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSet
    } finally s.close()
  }

  for (e <- Bench.shared) {
    test(s"${e.name} builds once per session under spark.graft.scratchDir") {
      spark.conf.set(ops.Scratch.ScratchDirConf, root.toString)
      try {
        def call(): Unit =
          e.build(spark, dir).write.format("noop").mode("overwrite").save()
        val before = parquet()
        call()
        val built = parquet()
        assert((built -- before).nonEmpty, s"${e.name}: first call wrote no parquet under $root")
        call()
        val again = parquet() -- built
        assert(again.isEmpty, s"${e.name}: second call wrote ${again.size} parquet files")
      } finally spark.conf.unset(ops.Scratch.ScratchDirConf)
    }
  }

  // the scratch read-back pins its footer's schema (util.Parquet): the
  // returned frame must read exactly what inference over its scratch
  // directory gives (a memo hit after the build-once tests above)
  for (e <- Bench.shared) {
    test(s"${e.name} reads its scratch directory with the inferred schema") {
      spark.conf.set(ops.Scratch.ScratchDirConf, root.toString)
      try {
        val df = e.build(spark, dir)
        val dirs = df.inputFiles.toSeq
          .map(f => new org.apache.hadoop.fs.Path(f).getParent.toString).distinct
        assert(dirs.size == 1, s"${e.name}: reads ${dirs.size} directories: $dirs")
        assert(df.schema == spark.read.parquet(dirs.head).schema)
      } finally spark.conf.unset(ops.Scratch.ScratchDirConf)
    }
  }
}
