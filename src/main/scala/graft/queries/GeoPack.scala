package graft.queries

import graft.QueryPack
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geospatial operators — the grid-bucketed distance-join family
  * (Sedona/PostGIS's core primitive, re-expressed as pure Spark
  * equi-joins). The reference has no spatial concept; at cluster
  * scale, proximity joins are the canonical "quadratic unless you
  * bin" workload, the 2-D sibling of scale/RangeJoin's 1-D interval
  * binning.
  *
  * Points live on an integer 100k x 100k grid, derived
  * deterministically from customer/supplier keys (prime
  * multipliers — uniform scatter, reproducible in ANSI SQL, no
  * floats anywhere). Distances are SQUARED-euclidean integers, so
  * the radius predicate never sits on a float rounding boundary.
  *
  * The join recipe: cell = coord div R. A candidate pair must share
  * a 3x3 cell neighborhood, so the probe side (customers) explodes
  * to its 9 neighbor cells and equi-joins the build side (suppliers,
  * each point registered in its ONE home cell) on the cell key —
  * every true pair is found exactly once (no distinct, no dedup
  * pass) because the build point has one home cell and the probe's 9
  * offsets are distinct. The exact d² <= R² filter runs inside the
  * joined cell — work is sharded by cell occupancy, never a
  * cross-product stage. Skewed cells (a downtown) are ordinary hot
  * equi-join keys: AQE splits them, j9's salting is the manual
  * fallback — the same toolbox as every other join in the engine.
  */
object GeoPack extends QueryPack {

  private val R = 800L // radius; also the cell width
  private val Rc = 400L // geo_cluster's connectivity radius

  /** Deterministic integer scatter of a key column onto the grid.
    * QUADRATIC mixing, not linear: a linear congruential scatter puts
    * consecutive keys on a difference LATTICE (dx depends only on the
    * key delta), which at these densities has NO near pairs at all —
    * and two sets sharing the multipliers collide exactly on shared
    * key values. key²-mixing breaks the difference structure and the
    * per-set offsets de-align the sets.
    *
    * Overflow bound: the key is reduced onto the grid (mod 100000)
    * BEFORE squaring, so every intermediate stays <= ~1.05e15 — far
    * inside int64 at ANY key scale. Squaring the raw key would wrap
    * int64 past keys ~9.4e6 (~sf60) in non-ANSI Spark while DuckDB
    * RAISES on BIGINT overflow, so engine and oracle would diverge
    * exactly where the 100 TB story matters. */
  private def pts(df: DataFrame, key: String, id: String,
                  ox: Long, oy: Long): DataFrame = {
    val k = col(key) % 100000L
    df.select(col(key).cast("long").as(id),
      ((k * k * 7919L + k * 104729L + ox) % 100000L).as("x"),
      ((k * k * 104729L + k * 7919L + oy) % 100000L).as("y"))
  }

  private def customers(s: SparkSession, dir: String): DataFrame =
    pts(Tables(s, dir, "customer"), "c_custkey", "aid", 0L, 0L)

  private def suppliers(s: SparkSession, dir: String): DataFrame =
    pts(Tables(s, dir, "supplier"), "s_suppkey", "bid", 31337L, 71993L)

  /** The 9-cell probe/build equi-join with exact d² attached — the
    * ONE grid-join construction (probe carries (aid, x, y), build
    * (bid, x, y), `cell` the bin width): joinedWithD2 instantiates it
    * for the dist-join family, clusterEdges for the self-join — a
    * cell-arithmetic change cannot split the two families. */
  private def gridJoined(probe: DataFrame, build: DataFrame,
                         cell: Long): DataFrame = {
    val a = probe
      .withColumn("dc", explode(expr(
        s"""flatten(transform(sequence(-1, 1), i ->
           |  transform(sequence(-1, 1), j ->
           |    named_struct('cx', x div $cell + i, 'cy', y div $cell + j))))"""
          .stripMargin)))
      .select(col("aid"), col("x").as("ax"), col("y").as("ay"),
        col("dc.cx").as("cx"), col("dc.cy").as("cy"))
    val b = build
      .select(col("bid"), col("x").as("bx"), col("y").as("by"),
        expr(s"x div $cell").as("cx"), expr(s"y div $cell").as("cy"))
    a.join(b, Seq("cx", "cy"))
      .withColumn("d2",
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")))
  }

  private def joinedWithD2(s: SparkSession, dir: String): DataFrame =
    gridJoined(customers(s, dir), suppliers(s, dir), R)

  /** Candidate pairs via the 9-cell probe, with exact d² attached. */
  private def candidates(s: SparkSession, dir: String): DataFrame =
    joinedWithD2(s, dir).filter(col("d2") <= R * R)

  /** geo_cluster's R-connectivity edge set (customer self-join at
    * Rc = 400, each undirected pair exactly once via aid < bid). */
  private[graft] def clusterEdges(s: SparkSession, dir: String): DataFrame = {
    val pts = customers(s, dir)
    gridJoined(pts, pts.select(col("aid").as("bid"), col("x"), col("y")), Rc)
      .filter(col("aid") < col("bid") && col("d2") <= Rc * Rc)
      .select(col("aid").as("src"), col("bid").as("dst"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DISTANCE JOIN: all (customer, supplier) point pairs within R.
    // The oracle runs the honest quadratic join — equality proves the
    // 9-cell cover loses nothing and emits nothing twice.
    "geo_dist_join" -> ((s, dir) =>
      candidates(s, dir)
        .select(col("aid"), col("bid"), col("d2"))
        .orderBy(col("aid"), col("bid"))),

    // NEAREST NEIGHBOR WITHIN R: per customer, the closest supplier
    // inside the radius (deterministic (d², bid) tie-break) — the
    // bounded-radius NN that gridding answers exactly (unbounded NN
    // needs expanding-ring search; the radius IS the contract here,
    // as in "nearest store within 5 km"). One min_by hash agg over
    // the candidate set.
    "geo_nn" -> ((s, dir) =>
      candidates(s, dir)
        .groupBy(col("aid"))
        .agg(min_by(col("bid"), struct(col("d2"), col("bid"))).as("nn_bid"),
          min(struct(col("d2"), col("bid"))).getField("d2").as("nn_d2"),
          count(lit(1)).as("n_in_radius"))
        .orderBy(col("aid"))),

    // R-CONNECTIVITY CLUSTERING (DBSCAN with minPts = 1): customer
    // points whose pairwise distance <= R chain into clusters —
    // spatial edges from a grid SELF-join (probe side explodes 9
    // cells, build side home cell, aid < bid keeps each pair exactly
    // once since only one ordering passes the filter), then the same
    // min-label ConnectedComponents the dedup family runs. Composes
    // two existing primitives with zero new iteration; singletons
    // (no neighbor within R) are out of scope, as in d_cluster.
    "geo_cluster" -> ((s, dir) => {
      // clustering uses a TIGHTER radius than the dist-join: at R=800
      // the sf0.1 point field sits near the percolation threshold —
      // one giant ~diameter-45 component whose min-label CC needs ~45
      // sequential rounds (measured; a pointer-jump variant was tried
      // and rejected: barely fewer rounds, pathological join cost).
      // Rc=400 is also the semantically honest choice: cluster radius
      // < candidate radius, the usual DBSCAN-eps-under-join-radius
      // setup. The CC runs in ADAPTIVE mode (runAdaptive): a cheap
      // min-label probe converges outright on the sub-percolation
      // gated fixtures (paying nothing beyond the old default), and
      // past percolation — where a spatial field's diameter grows
      // with density and min-label pays it linearly — the probe's
      // partial labels contract the graph and star contraction
      // finishes in O(log d) rounds on the shrunken remainder. The
      // dense-regime numbers are in SCALE.md's r7 section. Dup-clique
      // graphs (d_cluster) keep plain min-label: diameter ~1 by
      // construction.
      val cc = graft.scale.ConnectedComponents.runAdaptive(clusterEdges(s, dir))
      val sizes = cc.groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "component")
        .select(col("node").as("aid"), col("component"),
          col("cluster_size"))
        .orderBy(col("aid"))
    }),

    // DENSITY HEATMAP: point counts per coarse 10x10 macro-cell for
    // both point sets — the aggregation a tile renderer or a
    // partitioner-designer reads. One hash agg per set, unioned.
    "geo_heatmap" -> ((s, dir) => {
      def grid(df: DataFrame, id: String, kind: String) =
        df.groupBy(expr("x div 10000").as("gx"), expr("y div 10000").as("gy"))
          .agg(count(lit(1)).as("n"), sum(col(id)).as("id_sum"))
          .withColumn("kind", lit(kind))
      grid(customers(s, dir), "aid", "customer")
        .unionByName(grid(suppliers(s, dir), "bid", "supplier"))
        .select(col("kind"), col("gx"), col("gy"), col("n"), col("id_sum"))
        .orderBy(col("kind"), col("gx"), col("gy"))
    })
  )

  /** The scatter CTE bodies as SQL — ONE definition per side,
    * interpolated into every oracle (the Spark twin is pts()); the
    * formula used to be hand-copied into 7 CTEs, the drift class
    * joinedWithD2 was built to prevent on the engine side. */
  private def custScatterSql(id: String): String =
    s"""SELECT $id,
       |    (k * k * 7919 + k * 104729) % 100000 AS x,
       |    (k * k * 104729 + k * 7919) % 100000 AS y
       |  FROM (SELECT c_custkey AS $id, c_custkey % 100000 AS k
       |        FROM customer)""".stripMargin

  private def suppScatterSql(id: String): String =
    s"""SELECT $id,
       |    (k * k * 7919 + k * 104729 + 31337) % 100000 AS x,
       |    (k * k * 104729 + k * 7919 + 71993) % 100000 AS y
       |  FROM (SELECT s_suppkey AS $id, s_suppkey % 100000 AS k
       |        FROM supplier)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    // the honest quadratic formulation — the grid join must equal it
    "geo_dist_join" ->
      s"""WITH a AS (
         |  ${custScatterSql("aid")}),
         |b AS (
         |  ${suppScatterSql("bid")})
         |SELECT aid, bid,
         |  CAST((a.x - b.x) * (a.x - b.x)
         |     + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
         |FROM a, b
         |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |      <= ${R * R}
         |ORDER BY aid, bid""".stripMargin,

    "geo_nn" ->
      s"""WITH a AS (
         |  ${custScatterSql("aid")}),
         |b AS (
         |  ${suppScatterSql("bid")}),
         |p AS (
         |  SELECT aid, bid,
         |    CAST((a.x - b.x) * (a.x - b.x)
         |       + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
         |  FROM a, b
         |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |        <= ${R * R}),
         |r AS (
         |  SELECT aid, bid, d2,
         |    row_number() OVER (PARTITION BY aid ORDER BY d2, bid) AS rn,
         |    CAST(count(*) OVER (PARTITION BY aid) AS BIGINT)
         |      AS n_in_radius
         |  FROM p)
         |SELECT aid, bid AS nn_bid, d2 AS nn_d2, n_in_radius
         |FROM r WHERE rn = 1 ORDER BY aid""".stripMargin,

    // pair edges via the SAME lossless 9-cell grid blocking the engine
    // side uses (cell width = Rc, so any pair within Rc is in the same
    // or an adjacent cell — the blocking is provably complete) +
    // bounded star-contraction CC (OracleCc). The old all-pairs join ×
    // recursive-walk closure was the oracle-side quadratic: at sf1 the
    // geo graph percolates into an 88k-node giant component and the
    // closure materializes O(component²) rows.
    "geo_cluster" ->
      s"""WITH a AS MATERIALIZED (
         |  ${custScatterSql("aid")}),
         |g AS MATERIALIZED (
         |  SELECT aid, x, y, x // $Rc AS cx, y // $Rc AS cy FROM a),
         |off(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)),
         |p AS MATERIALIZED (
         |  SELECT l.aid AS s, r.aid AS d
         |  FROM g l, off o, g r
         |  WHERE r.cx = l.cx + o.dx AND r.cy = l.cy + o.dy
         |    AND l.aid < r.aid
         |    AND (l.x - r.x) * (l.x - r.x) + (l.y - r.y) * (l.y - r.y)
         |        <= ${Rc * Rc}),
         |edges AS MATERIALIZED (
         |  SELECT s, d FROM p UNION SELECT d, s FROM p),
         |${OracleCc.starCcRounds()},
         |sizes AS (SELECT component, CAST(count(*) AS BIGINT)
         |            AS cluster_size
         |          FROM comp GROUP BY component)
         |SELECT comp.node AS aid, comp.component, sizes.cluster_size
         |FROM comp JOIN sizes USING (component)
         |ORDER BY aid""".stripMargin,

    "geo_heatmap" ->
      s"""WITH a AS (
        |  ${custScatterSql("id")}),
        |b AS (
        |  ${suppScatterSql("id")}),
        |u AS (
        |  SELECT 'customer' AS kind, x // 10000 AS gx, y // 10000 AS gy, id
        |  FROM a
        |  UNION ALL
        |  SELECT 'supplier', x // 10000, y // 10000, id FROM b)
        |SELECT kind, gx, gy, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(id) AS BIGINT) AS id_sum
        |FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  )
}
