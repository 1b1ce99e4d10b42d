package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys (builder brief / SURVEY §7.4 risk
  * 6). AQE's skew-join handling (default-on) splits oversized
  * SortMergeJoin partitions at runtime; explicit salting is the
  * plan-level tool for the cases AQE can't fix — e.g. a single
  * heavy-hitter key that must still co-locate with a non-broadcastable
  * build side.
  *
  * Mechanics: the probe (fact) side gets a deterministic salt in
  * [0, salt); the build (dim) side is replicated `salt` times; the join
  * key becomes (key, salt), spreading one hot key over `salt`
  * partitions. Row multiplicity is unchanged — each fact row matches
  * exactly the one build replica carrying its salt.
  *
  * Retry determinism (VERDICT r1): the salt is a pure function of the
  * fact row's column values — NO `monotonically_increasing_id()` or
  * `rand()`. Those are nondeterministic across task retries; a stage
  * retry upstream of the shuffle could re-salt rows differently and
  * duplicate or lose them. The price of determinism is that byte-
  * identical duplicate fact rows land on the same salt (they cannot be
  * told apart); hot keys fan out as long as any other column varies,
  * which is what makes a key "hot" in a real fact table.
  */
object SkewJoin {

  /** INNER equi-join of `fact` and `dim` on `key`.
    *
    * @param fact probe side (large, possibly skewed on `key`)
    * @param dim  build side (replicated `salt` times — keep it the
    *             smaller input)
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salt: Int): DataFrame = {
    require(salt > 0, "salt must be positive")
    // deterministic spread: hash ALL fact columns, so rows sharing a
    // hot key but differing anywhere else fan out across salts — and a
    // task retry recomputes the identical salt
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(struct(fact.columns.map(col).toIndexedSeq: _*)), lit(salt))
        .cast("int"))
    val saltedDim = dim.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    // Pin the SHUFFLE path (merge hint): salting exists to spread a
    // hot key across shuffle partitions — a broadcast join has no
    // skew problem, so letting Catalyst broadcast the ×salt-amplified
    // dim buys nothing and AMPLIFIES the build side by the salt
    // factor. Caught by the r14 fault gate's no-kill baseline: at sf1
    // under 3×8 GiB executor JVMs Catalyst broadcast the 8×-replicated
    // orders dim and every executor died in UNABLE_TO_ACQUIRE_MEMORY
    // deserializing the ~12M-row UnsafeHashedRelation — an OOM class
    // invisible under local[32]'s one big heap. A dim small enough to
    // broadcast should use a plain broadcast join, not saltedJoin.
    saltedFact
      .join(saltedDim.hint("merge"),
        saltedFact(key) === saltedDim(key) &&
          saltedFact("__salt") === saltedDim("__salt"))
      .drop(saltedDim(key)).drop("__salt")
  }
}
