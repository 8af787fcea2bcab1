package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.Materialize
import graft.sources.EdgeSource

/** Whole-graph scalar statistics a web link-graph profile needs next to the
  * per-vertex operators: edge reciprocity (how bidirectional is the link
  * structure) and global transitivity (the wedge-closure ratio, the
  * graph-level counterpart of the per-vertex clustering coefficient).
  * Integer counts feed one correctly-rounded IEEE division each, so both
  * replay bit-exactly. Both are single-pass join/aggregate shapes — a
  * self-join on the deduped directed edge set and the existing oriented
  * wedge/triangle counts — nothing iterates. */
object GraphStats {

  /** One row: (n_directed, n_reciprocal, reciprocity) over the deduped
    * directed edge set, self-loops excluded. `n_reciprocal` counts ordered
    * pairs whose reverse is also present (so a mutual pair contributes 2). */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = Materialize.leaf(edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct())
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val mutual = e.join(rev, Seq("src", "dst"), "left_semi")
    val res = Materialize.cut(e.agg(count(lit(1)).as("n_directed"))
      .crossJoin(mutual.agg(count(lit(1)).as("n_reciprocal")))
      .select(col("n_directed"), col("n_reciprocal"),
        (col("n_reciprocal").cast("double") / col("n_directed")).as("reciprocity")))
    Materialize.free(e)
    res
  }

  /** Degree assortativity (Newman 2002) over directed edges, out-in
    * flavor: the Pearson correlation of (outdeg(u), indeg(v)) across edges
    * u→v — positive means hubs link to hubs, negative (typical of the web)
    * means hubs link to low-degree pages. One row:
    * (n_edges, assortativity). All five sufficient statistics (Σx, Σy,
    * Σxy, Σx², Σy²) are exact integer sums of degree products; the final
    * expression is a fixed-order handful of IEEE ops on those exact
    * operands, grid-rounded — so the DuckDB oracle replays it exactly.
    * Shape: two degree aggregations + two joins onto the edge set + one
    * global aggregate; nothing iterates. */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = Materialize.leaf(edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct())
    val outd = e.groupBy(col("src").as("u")).agg(count(lit(1)).as("x"))
    val ind = e.groupBy(col("dst").as("v")).agg(count(lit(1)).as("y"))
    val xy = e.join(outd, e("src") === outd("u")).join(ind, e("dst") === ind("v"))
      .select(col("x"), col("y"))
    val s = xy.agg(count(lit(1)).as("m"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val num = col("m").cast("double") * col("sxy") - col("sx").cast("double") * col("sy")
    val dx = col("m").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")
    val dy = col("m").cast("double") * col("syy") - col("sy").cast("double") * col("sy")
    val res = Materialize.cut(s.select(col("m").as("n_edges"),
      (round(when(col("m") > 1 && dx > 0 && dy > 0, num / sqrt(dx * dy))
        .otherwise(lit(0.0)) * lit(1e6)) / 1e6).as("assortativity")))
    Materialize.free(e)
    res
  }

  /** Log2-binned degree histogram — the power-law profile every crawl
    * report leads with. Rows (kind, bucket = floor(log2(deg)), n_vertices,
    * min_deg = 2^bucket) for kind in {out, in}; degree-0 vertices land in
    * bucket -1. Integer-only. */
  def degreeHistogram(edges: DataFrame, vertices: DataFrame): DataFrame = {
    val out = EdgeSource.outDegrees(edges, vertices)
      .select(lit("out").as("kind"), col("outdeg").as("deg"))
    val in = EdgeSource.inDegrees(edges, vertices)
      .select(lit("in").as("kind"), col("indeg").as("deg"))
    out.union(in)
      // bucket = bit-length(deg) - 1 == floor(log2(deg)), computed on
      // INTEGERS via the bin/ltrim idiom (Sketch's rho) — a floating log2
      // could land boundary degrees in different buckets across engines
      .select(col("kind"),
        when(col("deg") <= 0, lit(-1))
          .otherwise((length(ltrim(bin(col("deg")), "0")) - 1).cast("int")).as("bucket"))
      .groupBy(col("kind"), col("bucket"))
      .agg(count(lit(1)).as("n_vertices"))
      .select(col("kind"), col("bucket"), col("n_vertices"),
        when(col("bucket") < 0, lit(0L))
          .otherwise(expr("shiftleft(1L, bucket)")).as("min_deg"))
  }

  /** One row: (n_wedges, n_triangles, transitivity = 3T / wedges) over the
    * canonical undirected simple graph; wedges = sum_v C(deg(v), 2). */
  def transitivity(edges: DataFrame): DataFrame = {
    val e = Materialize.leaf(EdgeSource.canonical(edges))
    val triangles = Triangles.countAll(e)
    val wedges = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .agg(coalesce(sum(col("deg") * (col("deg") - 1)), lit(0L)).as("w2"))
      .select(shiftright(col("w2"), 1).as("n_wedges")) // w2 is even; exact halving
    val res = Materialize.cut(wedges.crossJoin(triangles)
      .select(col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          (lit(3L) * col("n_triangles")).cast("double") / col("n_wedges"))
          .otherwise(lit(0.0)).as("transitivity")))
    Materialize.free(e, triangles)
    res
  }
}
