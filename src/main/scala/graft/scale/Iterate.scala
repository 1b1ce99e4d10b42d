package graft.scale

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The driver loop of every lineage-cutting iterative operator
  * ([[ConnectedComponents]] min-label and star contraction, [[KCore]],
  * the MMR rerank in `SimilarityPack`). Each round:
  *
  *  - the step's frame is cut through [[Checkpoints.cut]] — eager, so
  *    the round's ONE job materializes it, and an iterative plan does
  *    not grow by one join+agg per round and re-execute from the scan;
  *  - the convergence probe rides that same job as an `observe()`
  *    metric, so detecting the fixpoint costs no extra job;
  *  - round N-1's cut is freed only after round N's has materialized
  *    (the [[Checkpoints]] contract);
  *  - the loop stops when the observed probe values equal the
  *    previous round's. The compare treats SQL NULL as equal to NULL,
  *    which covers the empty frame, whose SUMs are NULL.
  *
  * The final frame is the caller's result and outlives its action, so
  * it goes to the harness ledger ([[CacheRegistry.trackCheckpointed]]).
  * When a round throws, the live cut is freed before the rethrow —
  * otherwise it would stay pinned for the session's lifetime.
  *
  * [[KMeans]] keeps its own loop: its per-round state is k x dims
  * longs on the driver, so there is no lineage to cut or free.
  */
object Iterate {

  /** What the last loop on a thread did: rounds run after the seed,
    * and whether the probe reached its fixpoint within the budget. */
  final case class Record(rounds: Int, converged: Boolean)

  /** The [[Record]] of the last loop on THIS thread — queries run their
    * driver loop on the calling thread, so specs and the scale harness
    * read it right after the operator returns. */
  private[graft] val last: ThreadLocal[Record] =
    ThreadLocal.withInitial(() => Record(0, converged = true))

  /** Cut `seed`, then run `step(frame, round)` for rounds 1, 2, ...
    * until the `probe` values repeat or `maxRounds` have run.
    *
    * @param name      operator name for the cap warning
    * @param probe     aggregate columns observed on each round's frame;
    *                  equal values two rounds running mean the fixpoint
    * @param probeSeed compare round 1 against the seed's probe; false
    *                  means round 1 can never count as converged
    * @param warnAtCap print the `[iterate] WARNING` line when the
    *                  budget runs out; false for a phase that is
    *                  allowed to run out and hands over to another
    */
  def untilStable(name: String, seed: DataFrame, maxRounds: Int,
                  probe: Seq[Column], probeSeed: Boolean = true,
                  warnAtCap: Boolean = true)
                 (step: (DataFrame, Int) => DataFrame): DataFrame = {
    val (cur, seedProbe) = cut(seed, if (probeSeed) probe else Nil)
    val out = loop(cur, seedProbe, maxRounds, probe)(step)
    if (warnAtCap && !last.get().converged)
      System.err.println(s"[iterate] WARNING $name hit its $maxRounds-round" +
        " cap without converging; the result is PARTIAL")
    out
  }

  /** Exactly `rounds` rounds from an uncut `seed`, no probe. The
    * record reports converged: a fixed budget is the contract. */
  def fixed(seed: DataFrame, rounds: Int)
           (step: (DataFrame, Int) => DataFrame): DataFrame =
    loop(seed, None, rounds, Nil)(step)

  private def loop(seed: DataFrame, seedProbe: Option[Probe], maxRounds: Int,
                   probe: Seq[Column])
                  (step: (DataFrame, Int) => DataFrame): DataFrame = {
    var cur = seed
    var prev = seedProbe
    var rounds = 0
    var converged = false
    try {
      while (!converged && rounds < maxRounds) {
        rounds += 1
        val (next, observed) = cut(step(cur, rounds), probe)
        val dead = cur
        cur = next
        Checkpoints.free(dead) // round N-1's blocks die once N is live
        converged = observed.isDefined && observed == prev
        prev = observed
      }
    } catch {
      case t: Throwable => Checkpoints.free(cur); throw t
    }
    CacheRegistry.trackCheckpointed(cur)
    last.set(Record(rounds, converged || probe.isEmpty))
    cur
  }

  /** One round's observed probe values, by column alias. */
  private type Probe = Map[String, Any]

  private val obsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The eager cut, with `probe` observed on the same job when given. */
  private def cut(df: DataFrame, probe: Seq[Column]): (DataFrame, Option[Probe]) =
    if (probe.isEmpty) (Checkpoints.cut(df), None)
    else {
      val obs = new Observation(s"iterate_${obsId.incrementAndGet()}")
      val out = Checkpoints.cut(df.observe(obs, probe.head, probe.tail: _*))
      (out, Some(obs.get))
    }
}
