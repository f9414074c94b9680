package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** An ANN index carries its spec as schema metadata on one field, and one
  * helper (`Similarity.readStamp`) reads it. A `meta` dataset, an
  * existence probe or a second stamp read elsewhere in `Similarity` would
  * bring back a fallback path that serves an unstamped index by guessing
  * its sizing.
  */
class AnnStampReadPathSpec extends AnyFunSuite {

  test("Similarity reads index stamps only in readStamp: no /meta path, no fs.exists(") {
    val file = Paths.get("src/main/scala/graft/ops/Similarity.scala")
    assert(Files.isRegularFile(file), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val lines = Files.readAllLines(file).asScala.toIndexedSeq
    val start = lines.indexWhere(_.contains("private def readStamp("))
    val end = lines.indexWhere(_ == "  }", start)
    assert(start >= 0 && end > start, "readStamp not found")
    val stampRead = """getLong\(s?"graft\.""".r
    val hits = lines.zipWithIndex.collect {
      case (line, i) if line.contains("/meta\"") || line.contains("fs.exists(") ||
          (stampRead.findFirstIn(line).isDefined && (i < start || i > end)) =>
        s"$file:${i + 1}: ${line.trim}"
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
