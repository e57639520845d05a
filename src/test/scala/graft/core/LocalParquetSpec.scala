package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Parquet opens stay behind their owners: driver-side opens behind
  * [[LocalParquet]], Spark reads behind [[Tables]].
  */
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

  test("spark.read.parquet is called only from Tables") {
    // a bare read infers its schema with one Spark job per call; every
    // other main file reads through Tables.read's footer-derived schema
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 40)
    val owner = root.resolve("graft/core/Tables.scala")
    assert(Files.readString(owner).contains("read.parquet("))
    val offenders = files.filter(f => f != owner && Files.readString(f).contains("read.parquet("))
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
