package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The retrieval scoring rules stay behind their owners: the BM25 term
  * weight in [[Bm25Index]], the scalar 6-dp rounding pair beside
  * `GraftFunctions.quant6`.
  */
class ScoringOwnersSpec extends AnyFunSuite {

  test("BM25 k1 and the micro-to-double conversion are each used by one owner") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 40)
    def uses(token: String): Map[String, Int] = files.map { f =>
      root.relativize(f).toString ->
        Files.readString(f).sliding(token.length).count(_ == token)
    }.filter(_._2 > 0).toMap
    // TextOps defines k1 (perfbench's reference BM25 reads it there);
    // every other use is the weight in Bm25Index
    val k1 = uses("Bm25K1")
    assert(k1.keySet == Set("graft/pipeline/TextOps.scala",
      "graft/pipeline/Bm25Index.scala"), k1)
    assert(k1("graft/pipeline/TextOps.scala") == 1, k1)
    val micros = uses("movePointLeft(6)")
    assert(micros == Map("graft/functions/TextHashExpressions.scala" -> 1), micros)
  }
}
