package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.Materialize
import graft.sources.EdgeSource

/** Triangle counting over the undirected simple graph (north-rule extra).
  *
  * Canonical-orientation wedge join: undirected edges are oriented
  * low-id -> high-id, so every triangle {a<b<c} is counted exactly once as
  * the wedge (a,b)+(b,c) closed by (a,c). Self-loops and duplicate edges are
  * removed first (EdgeSource.canonical).
  *
  * Scale notes: orienting by id bounds each vertex's forward-degree skew;
  * the standard refinement (orient by (degree, id) instead of id alone,
  * which provably minimizes wedge count for power-law graphs) is
  * [[countByDegreeOrder]] — identical result, fewer wedge rows on hub-heavy
  * web graphs. The closing join is an equi-join Catalyst can plan as
  * sort-merge with AQE skew splitting.
  */
object Triangles {

  /** Wedge rows each orientation's closing join must process — the skew
    * evidence (computed from degree aggregates, no wedge materialization):
    * id-order wedges = sum_b inDeg(b)*outDeg(b) over low->high edges;
    * degree-order wedges = sum_a C(fwdDeg(a), 2). On hub-heavy graphs the
    * degree ordering is orders of magnitude smaller (BASELINE.md row). */
  def wedgeCounts(edges: DataFrame): DataFrame = {
    val e = Materialize.leaf(EdgeSource.canonical(edges))
    val idOrder = e.select(col("dst").as("id"), lit(1L).as("i"), lit(0L).as("o"))
      .union(e.select(col("src").as("id"), lit(0L).as("i"), lit(1L).as("o")))
      .groupBy("id").agg(sum("i").as("ind"), sum("o").as("outd"))
      .agg(coalesce(sum(col("ind") * col("outd")), lit(0L)).as("n"))
      .select(lit("id_order").as("orientation"), col("n").as("n_wedges"))
    val deg = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val fwd = e
      .join(deg.withColumnsRenamed(Map("id" -> "sid", "deg" -> "sdeg")), col("src") === col("sid"))
      .join(deg.withColumnsRenamed(Map("id" -> "did", "deg" -> "ddeg")), col("dst") === col("did"))
      .select(when(struct(col("sdeg"), col("src")) < struct(col("ddeg"), col("dst")), col("src"))
        .otherwise(col("dst")).as("u"))
      .groupBy("u").agg(count(lit(1)).as("fd"))
      .agg(coalesce(sum(col("fd") * (col("fd") - 1)), lit(0L)).as("n2"))
      .select(lit("degree_order").as("orientation"),
        shiftright(col("n2"), 1).as("n_wedges")) // n2 is even; exact long halving
    val res = Materialize.cut(idOrder.union(fwd))
    Materialize.free(e)
    res
  }

  /** Global triangle count (one row: n_triangles LONG). */
  def countAll(edges: DataFrame): DataFrame = {
    val e = Materialize.leaf(EdgeSource.canonical(edges))
    val e1 = e.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("src").as("b2"), col("dst").as("c"))
    val wedges = e1.join(e2, col("b") === col("b2")).select(col("a"), col("b"), col("c"))
    val closed = wedges.join(e, wedges("a") === e("src") && wedges("c") === e("dst"), "left_semi")
    val res = Materialize.cut(closed.agg(count(lit(1)).as("n_triangles")))
    Materialize.free(e)
    res
  }

  /** Per-vertex triangle participation counts: (id, n_triangles); vertices in
    * no triangle get 0. */
  def perVertex(edges: DataFrame, vertices: DataFrame): DataFrame = {
    val e = EdgeSource.canonical(edges)
    val e1 = e.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("src").as("b2"), col("dst").as("c"))
    val tri = e1.join(e2, col("b") === col("b2"))
      .select(col("a"), col("b"), col("c"))
      .join(e, col("a") === e("src") && col("c") === e("dst"), "left_semi")
    val counts = tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    vertices.join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Local clustering coefficient per vertex: 2·T(v) / (deg(v)·(deg(v)−1))
    * over the undirected simple graph; vertices with deg < 2 score 0.0.
    * Integer triangle/degree counts feed ONE correctly-rounded IEEE
    * division, so the result replays bit-exactly with no grid. */
  def clusteringCoefficient(edges: DataFrame, vertices: DataFrame): DataFrame = {
    val e = EdgeSource.canonical(edges)
    val deg = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    perVertex(edges, vertices).join(deg, Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          lit(2.0) * col("n_triangles") / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** Degree-ordered orientation (hub-skew-minimizing): orient each edge from
    * the endpoint with (smaller degree, smaller id) to the other; count
    * closed wedges. Same count as [[countAll]], fewer intermediate wedges on
    * skewed graphs. */
  def countByDegreeOrder(edges: DataFrame): DataFrame = {
    val und = EdgeSource.canonical(edges)
    val deg = und.select(col("src").as("id")).union(und.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val ranked = Materialize.leaf(und
      .join(deg.withColumnsRenamed(Map("id" -> "sid", "deg" -> "sdeg")), col("src") === col("sid"))
      .join(deg.withColumnsRenamed(Map("id" -> "did", "deg" -> "ddeg")), col("dst") === col("did"))
      .select(
        when(struct(col("sdeg"), col("src")) < struct(col("ddeg"), col("dst")), col("src"))
          .otherwise(col("dst")).as("u"),
        when(struct(col("sdeg"), col("src")) < struct(col("ddeg"), col("dst")), col("dst"))
          .otherwise(col("src")).as("v")))
    val w1 = ranked.select(col("u").as("a"), col("v").as("b"))
    val w2 = ranked.select(col("u").as("a2"), col("v").as("c"))
    // wedges out of the low-rank endpoint a: (a->b, a->c), b != c; the
    // closing edge b-c may be oriented either way under degree order.
    val wedges = w1.join(w2, col("a") === col("a2") && col("b") < col("c"))
      .select(col("a"), col("b"), col("c"))
    val closing = ranked.select(col("u").as("x"), col("v").as("y"))
      .union(ranked.select(col("v").as("x"), col("u").as("y")))
    val closed = wedges.join(closing,
      wedges("b") === closing("x") && wedges("c") === closing("y"), "left_semi")
    val res = Materialize.cut(closed.agg(count(lit(1)).as("n_triangles")))
    Materialize.free(ranked)
    res
  }
}
