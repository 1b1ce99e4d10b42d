package graft.queries

/** Shared DuckDB-oracle SQL device: bounded connected components via
  * alternating large-star / small-star contraction (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" — the same public
  * algorithm family the engine side's
  * [[graft.scale.ConnectedComponents.runStars]] implements), unrolled
  * as [[Rounds]] chained MATERIALIZED CTE rounds.
  *
  * WHY (round 10): the dedup/geo cluster oracles used a recursive-CTE
  * transitive closure (`walk(node, r)`: every node × every reachable
  * node). That is O(Σ component²) rows — fine on the driver tiers,
  * but the sf1 corpus's geo graph percolates into an 88k-node giant
  * component and the closure blew past any time cap (the oracle, not
  * the engine, was the quadratic). Star contraction is O(E) per round
  * and converges in O(log n) alternations; the measured sf1 giant
  * component stabilizes in 8 rounds. Plain min-label + pointer-jump rounds were
  * tried first and measured BFS-speed on the geo graph (the label
  * chase crawls across basins of local minima) — star contraction is
  * the fix, not more rounds.
  *
  * Truncation honesty (hardened, ADVICE r10): the fragment now ends
  * with a fixed-point sentinel — e_k must equal e_{k-1} (symmetric
  * EXCEPT both ways) or DuckDB raises error('not converged'), so a
  * corpus outgrowing the cap fails at the SOURCE with a named cause,
  * not via the downstream hash mismatch. Rounds past convergence
  * re-scan the already-contracted stars (the alternation's fixed
  * point), so 16 rounds buy ~2 tiers of component-size headroom over
  * the measured sf1 convergence (8 rounds at the 88k giant component;
  * rounds needed grow O(log n)) at near-zero cost. Gating still-larger
  * corpora means raising the constant.
  *
  * Contract: the caller's WITH list must already define
  * `edges(s, d)` holding BOTH directions of every edge. The fragment
  * defines CTEs e0..e16 (+ per-round m/l/s helpers) and ends with
  * `comp(node, component)` over every edge endpoint, where
  * `component` = min node id of the component (the closure's
  * semantics exactly).
  */
object OracleCc {

  /** Star-contraction alternations the fragment unrolls. */
  private val Rounds = 16

  def starCcRounds: String = {
    val sb = new StringBuilder
    sb ++= "e0 AS MATERIALIZED (SELECT s, d FROM edges),\n"
    sb ++= "nodes0 AS MATERIALIZED (SELECT DISTINCT s AS node FROM edges),\n"
    for (i <- 1 to Rounds) {
      val p = s"e${i - 1}"
      // large-star: every neighbor larger than u attaches to
      // m = min(N(u) ∪ {u}); small-star: every neighbor smaller than
      // u (plus u itself) attaches to m. Both emitted symmetric.
      sb ++= s"""m${i}a AS MATERIALIZED (
        |  SELECT s AS u, least(s, min(d)) AS m FROM $p GROUP BY s),
        |l$i AS MATERIALIZED (
        |  SELECT DISTINCT e.d AS v, m.m FROM $p e JOIN m${i}a m ON m.u = e.s
        |  WHERE e.d > e.s AND e.d <> m.m),
        |e${i}a AS MATERIALIZED (
        |  SELECT v AS s, m AS d FROM l$i UNION SELECT m AS s, v AS d FROM l$i),
        |m${i}b AS MATERIALIZED (
        |  SELECT s AS u, least(s, min(d)) AS m FROM e${i}a GROUP BY s),
        |s$i AS MATERIALIZED (
        |  SELECT DISTINCT e.d AS v, m.m FROM e${i}a e JOIN m${i}b m ON m.u = e.s
        |  WHERE e.d < e.s AND e.d <> m.m
        |  UNION SELECT m.u AS v, m.m FROM m${i}b m WHERE m.u <> m.m),
        |e$i AS MATERIALIZED (
        |  SELECT v AS s, m AS d FROM s$i UNION SELECT m AS s, v AS d FROM s$i),
        |""".stripMargin
    }
    // Convergence SENTINEL (ADVICE r10): a fully-contracted graph is a
    // fixed point of the alternation (stars map to themselves), so
    // e_k == e_{k-1} iff the contraction converged within the cap. A
    // corpus needing more alternations now raises an EXPLICIT DuckDB
    // error("not converged") instead of relying on the downstream
    // hash mismatch — the same round-cap class that silently truncated
    // ConnectedComponents.run in an earlier round, made loud at the
    // source. comp's WHERE forces the check's evaluation.
    sb ++= s"""conv AS MATERIALIZED (
      |  SELECT CASE WHEN NOT EXISTS (
      |      SELECT s, d FROM e$Rounds EXCEPT SELECT s, d FROM e${Rounds - 1})
      |    AND NOT EXISTS (
      |      SELECT s, d FROM e${Rounds - 1} EXCEPT SELECT s, d FROM e$Rounds)
      |  THEN 1 ELSE error('starCcRounds: CC not converged after $Rounds alternations - raise OracleCc.Rounds') END AS ok),
      |stars AS MATERIALIZED (
      |  SELECT s AS node, least(s, min(d)) AS component FROM e$Rounds GROUP BY s),
      |comp AS MATERIALIZED (
      |  SELECT n.node, coalesce(st.component, n.node) AS component
      |  FROM nodes0 n LEFT JOIN stars st ON st.node = n.node
      |  WHERE (SELECT ok FROM conv) = 1)""".stripMargin
    sb.toString
  }
}
