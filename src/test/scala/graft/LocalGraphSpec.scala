package graft

import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.{LocalGraph, Pin}

/** The driver-side graph every pinned replay runs on: its adjacency
  * against a brute-force one, its gate, and its row writer. */
class LocalGraphSpec extends SparkTestBase {
  import spark.implicits._

  private val ids = Gen.oneOf(Gen.oneOf(Long.MinValue + 1, Long.MaxValue, 0L, -1L),
    Gen.choose(-3L, 5L))
  private val edgeGen = Gen.choose(0, 24).flatMap(Gen.listOfN(_, for {
    s <- ids
    d <- Gen.frequency(1 -> Gen.const(s), 6 -> ids) // self-loops too
    w <- Gen.choose(-1e6, 1e6)
  } yield (s, d, w)))

  private def graph(es: Seq[(Long, Long, Double)]): LocalGraph =
    LocalGraph.of(Pin.place(es.toDF("src", "dst", "w"), "lg_edges")).get

  /** v's neighbours (ids) over `csr`, in slot order, with each slot's
    * edge as (src id, dst id, w). */
  private def nbrs(g: LocalGraph, csr: LocalGraph.Csr, v: Int) =
    (csr.offsets(v) until csr.offsets(v + 1)).map { i =>
      val e = csr.edges(i)
      (g.ids(csr.targets(i)), (g.ids(g.src(e)), g.ids(g.dst(e)), g.double(e, 2)))
    }

  /** The graph's ids, edges and adjacency against brute force. */
  private def matchesBruteForce(es: Seq[(Long, Long, Double)]): Boolean = {
    val g = graph(es)
    val firstSeen = es.flatMap(e => Seq(e._1, e._2)).distinct
    g.ids.toSeq == firstSeen && g.m == es.length &&
      firstSeen.forall(id => g.ids(g.indexOf(id)) == id) && g.indexOf(42L) == -1 &&
      Seq(g.out, g.in, g.both).forall(_.offsets.length == g.n + 1) &&
      g.out.maxDegree == g.ids.map(id => es.count(_._1 == id)).maxOption.getOrElse(0) &&
      g.ids.indices.forall { v =>
        val id = g.ids(v)
        val out = es.filter(_._1 == id).map(e => (e._2, e))
        val in = es.filter(_._2 == id).map(e => (e._1, e))
        nbrs(g, g.out, v) == out && nbrs(g, g.in, v) == in &&
          nbrs(g, g.both, v) == out ++ in
      }
  }

  test("property: out, in and both adjacency equal a brute-force adjacency") {
    assert(matchesBruteForce(Nil)) // the empty frame is the empty graph
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40),
      Prop.forAll(edgeGen)(matchesBruteForce))
    assert(r.passed, r.status.toString)
  }

  test("a vertex frame adds its ids after the endpoints and reads per vertex") {
    val e = Pin.place(Seq((7L, 3L)).toDF("src", "dst"), "lg_edges")
    val v = Pin.place(Seq((3L, 30L), (9L, 90L)).toDF("node", "selfw"), "lg_vertices")
    val g = LocalGraph.of(e, Some(v)).get
    assert(g.ids.toSeq == Seq(7L, 3L, 9L))
    assert(g.vertexLongs(1).toSeq == Seq(0L, 30L, 90L))
  }

  test("a spilled frame or an id column that is not Long gives None") {
    val longs = Seq((1L, 2L)).toDF("src", "dst")
    val spilled = withConf("spark.graft.maxLocalEdges" -> "0")(Pin.place(longs, "lg_spill"))
    assert(spilled.path != null && LocalGraph.of(spilled).isEmpty)
    val pinned = Pin.place(longs, "lg_edges")
    assert(LocalGraph.of(pinned).isDefined)
    assert(LocalGraph.of(pinned, Some(spilled)).isEmpty)
    assert(LocalGraph.of(Pin.place(Seq((1, 2)).toDF("src", "dst"), "lg_ints")).isEmpty)
    assert(LocalGraph.of(Pin.place(Seq((1L, "b")).toDF("src", "dst"), "lg_strs")).isEmpty)
    assert(LocalGraph.of(Pin.place(Seq(("a", 2L)).toDF("src", "dst"), "lg_strs")).isEmpty)
  }

  test("the row writer round-trips null Longs and NaN / -0.0 doubles") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("round", LongType), StructField("x", DoubleType)))
    val rounds = Seq(Some(Long.MinValue), None, Some(0L), None)
    val xs = Seq(Double.NaN, -0.0d, Double.NegativeInfinity, Double.MaxValue)
    val df = LocalGraph.frame(spark, schema, rounds.length) { (w, i) =>
      w.write(0, i.toLong)
      rounds(i).fold(w.setNullAt(1))(w.write(1, _))
      w.write(2, xs(i))
    }
    assert(df.schema == schema)
    val got = df.collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(got.map(r => if (r.isNullAt(1)) None else Some(r.getLong(1))).toSeq == rounds)
    assert(got.map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toSeq ==
      xs.map(java.lang.Double.doubleToRawLongBits))
    assert(LocalGraph.frame(spark, schema, 0)((_, _) => ()).collect().isEmpty)
  }
}
