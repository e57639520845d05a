package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-side parquet opens stay behind [[LocalParquet]]. */
class LocalParquetSpec extends AnyFunSuite {

  test("parquet-mr's conf-parsing open overloads are called only from LocalParquet") {
    // `ParquetFileReader.open(InputFile)` and `ParquetReader.builder(
    // readSupport, path)` parse a fresh Hadoop Configuration per call;
    // every other main file opens through LocalParquet.open/readGroups
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 40)
    val owner = root.resolve("graft/core/LocalParquet.scala")
    def calls(f: Path) = {
      val text = Files.readString(f)
      Seq("ParquetFileReader.open(", "ParquetReader.builder(").filter(text.contains)
    }
    val offenders = files.filter(_ != owner).map(f => f -> calls(f)).filter(_._2.nonEmpty)
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
