package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every runtime parquet read goes through `SourceLoaders.parquet`, the one
  * reader that memoizes the inferred schema: a bare `spark.read.parquet`
  * anywhere else in the engine pays a schema-inference job per call. Only
  * the offline `tools/` mains may read parquet directly.
  */
class ParquetReadPathSpec extends AnyFunSuite {

  test("no read.parquet( outside tools/ and the shared reader") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val allowed: Path => Boolean = p =>
      p.startsWith(root.resolve("tools")) || p == root.resolve("sources/SourceLoaders.scala")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_ == root.resolve("sources/SourceLoaders.scala")))
    val hits = for {
      f <- files if !allowed(f)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex if line.contains("read.parquet(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
