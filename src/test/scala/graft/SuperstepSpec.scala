package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Scratch hygiene of the [[graft.ops.Superstep]] peel operators past
  * the driver gate: the distributed executor drops every superseded
  * vertex table and the spilled edge table, so a finished call leaves
  * exactly the tables its result reads. */
class SuperstepSpec extends SparkTestBase {
  import spark.implicits._

  test("past the gate, kCore / topoLayers / greedyColoring leave only the tables their result reads") {
    val root = graft.ops.Scratch.localRoot.toFile
    def tables(): Set[String] = Option(root.listFiles()).getOrElse(Array.empty)
      .map(_.getCanonicalPath).toSet
    // a 5-clique with a tail 5-6-7-8 and a 3-cycle: several rounds in
    // every program, and unresolved nodes for topoLayers
    val clique = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    val e = (clique ++ Seq((5L, 6L), (6L, 7L), (7L, 8L), (10L, 11L), (11L, 12L), (12L, 10L)))
      .toDF("src", "dst")
    val leaks = Seq[(String, DataFrame => DataFrame)](
      "kCore" -> (Graph.kCore(_, 2)),
      "topoLayers" -> (Graph.topoLayers(_)),
      "greedyColoring" -> (Graph.greedyColoring(_))).flatMap { case (name, op) =>
      // string ids also write the table that numbers them, which the
      // result reads back
      val named = e.select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
      Seq(e, named).flatMap(input => withConf("spark.graft.maxLocalEdges" -> "0") {
        val before = tables()
        val out = op(input)
        assert(out.collect().nonEmpty)
        val read = out.inputFiles.map(f =>
          new java.io.File(new java.net.URI(f)).getParentFile.getCanonicalPath).toSet
        val left = tables() -- before
        if (read.nonEmpty && left == read) None
        else Some(s"$name on ${input.schema("src").dataType} ids left " +
          s"${left.map(new java.io.File(_).getName)}, " +
          s"its result reads ${read.map(new java.io.File(_).getName)}")
      })
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("string ids: kCore / topoLayers / greedyColoring equal the Long-id run, relabeled") {
    // zero-padded labels keep the id order, which greedyColoring's
    // priority and the canonical (src < dst) edges read
    def label(id: Long) = f"n$id%03d"
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 3L), (6L, 6L))
    val ids = e.toDF("src", "dst")
    val names = e.map { case (a, b) => (label(a), label(b)) }.toDF("src", "dst")
    for ((name, op) <- Seq[(String, DataFrame => DataFrame)](
        "kCore" -> (Graph.kCore(_, 2)),
        "topoLayers" -> (Graph.topoLayers(_)),
        "greedyColoring" -> (Graph.greedyColoring(_)))) {
      val want = op(ids).collect().map(r => (label(r.getLong(0)), r.get(1))).toSet
      for (bound <- Seq("1000000", "0")) withConf("spark.graft.maxLocalEdges" -> bound) {
        val got = op(names)
        assert(got.schema.head.dataType == org.apache.spark.sql.types.StringType)
        assert(got.collect().map(r => (r.getString(0), r.get(1))).toSet == want,
          s"$name, maxLocalEdges=$bound")
      }
    }
  }
}
