package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Referential-integrity-preserving N× replication of a driver
  * testdata tier — the sf1 gate generator (VERDICT r8 item 7: the
  * oracle gate stopped at sf0.1 while scale evidence was bench-only;
  * this raises the RELATIONAL gate a full tier).
  *
  * Method: each scalable table is replicated `factor` times by an
  * `explode(sequence(...))` copy index — a NARROW op, no shuffle, no
  * driver loop — with every key column in a scaled key DOMAIN offset
  * by `copy * base(domain)`, where base = (max key over the domain's
  * owning table) + 1, computed once per domain. Foreign keys use the
  * SAME base as their referenced primary key, so every join
  * cardinality scales exactly linearly: copy i of lineitem joins copy
  * i of orders/part/supplier and nothing else. Fixed dimensions
  * (region, nation) are copied verbatim — as in TPC-H, where dims are
  * SF-invariant — so nationkey/regionkey references stay valid without
  * offsetting. Dates, timestamps and measure columns are unchanged:
  * per-group aggregates grow ×factor in contributing rows while
  * group-key domains (dates, flags, segments) stay fixed, which is the
  * TPC-H growth shape the sql_* rows are meant to see.
  *
  * DuckDB gates the OUTPUT of each query over the same parquet, so the
  * replica corpus needs no external truth — only determinism (it is:
  * the copy index is the only new value) and linear referential
  * growth.
  *
  * Usage: runMain graft.tools.ScaleUp <inDir> <outDir> <factor>
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = graft.io.Sessions.harness()
    writeTier(spark, inDir, outDir, factor)
    spark.stop()
  }

  /** Per-table key columns and their domain — the single registry
    * (each domain's base is the max over EVERY column mapped to it,
    * owning key and foreign keys alike, so parent/child offsets
    * agree by construction). Columns not listed are carried through
    * unchanged. */
  private val keyCols: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq("c_custkey" -> "cust"),
    "supplier" -> Seq("s_suppkey" -> "supp"),
    "part" -> Seq("p_partkey" -> "part"),
    "orders" -> Seq("o_orderkey" -> "order", "o_custkey" -> "cust"),
    "lineitem" -> Seq("l_orderkey" -> "order", "l_partkey" -> "part",
      "l_suppkey" -> "supp"),
    "events" -> Seq("event_id" -> "event", "user_id" -> "user"),
    "documents" -> Seq("doc_id" -> "doc"),
    "embeddings" -> Seq("vec_id" -> "vec"))

  def writeTier(spark: SparkSession, inDir: String, outDir: String,
                factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val load = (t: String) => spark.read.parquet(s"$inDir/$t.parquet")
    // base = max key + 1 EXACTLY — for the dense-from-0 doc/vec id
    // domains this tiles replicas into 0..N·n-1, still dense, which
    // the dedup/kmeans family's id contract requires (planted twins
    // are DERIVED as id + PlantedOffset at query time, and KMeans'
    // data-deterministic seeding reads ids as positions; an earlier
    // draft floored the base at 20M "to be safe" and thereby pushed
    // REAL replica ids into the planted window — d_semdedup_scoped/
    // s_kmeans failed loudly at the sf1 gate). Guard the window
    // explicitly instead. The max is taken over the owning key AND
    // every FK column mapped to the domain (one agg job per TABLE —
    // events carries two domains, lineitem three FKs): an orphan FK
    // larger than the parent's max key would otherwise alias into
    // replica i+1's parent range after offsetting, turning a
    // non-joining row into a cross-replica join (ADVICE r9).
    val perTableMax: Seq[(String, Long)] = keyCols.toSeq.flatMap {
      case (tbl, cols) =>
        val row = load(tbl)
          .agg(max(expr(cols.head._1).cast("long")),
            cols.tail.map { case (c, _) => max(expr(c).cast("long")) }: _*)
          .head()
        cols.zipWithIndex.map { case ((c, dom), i) =>
          require(!row.isNullAt(i),
            s"table $tbl is empty (or $c all-null) in $inDir — " +
              "cannot derive a key base for an empty domain table")
          dom -> row.getLong(i)
        }
    }
    val base: Map[String, Long] = perTableMax.groupBy(_._1)
      .map { case (dom, vs) => dom -> (vs.map(_._2).max + 1L) }
    // no offset key may overflow its column's ORIGINAL integer type:
    // replicate() casts back to that type, and under non-ANSI SQL the
    // cast WRAPS silently — wrapped keys collide across replicas and
    // corrupt the very corpus the gate trusts (ADVICE r9). BigInt so
    // the guard itself cannot overflow.
    def typeMax(dt: org.apache.spark.sql.types.DataType): BigInt = dt match {
      case org.apache.spark.sql.types.ByteType => BigInt(Byte.MaxValue)
      case org.apache.spark.sql.types.ShortType => BigInt(Short.MaxValue)
      case org.apache.spark.sql.types.IntegerType => BigInt(Int.MaxValue)
      case _ => BigInt(Long.MaxValue)
    }
    for ((tbl, cols) <- keyCols.toSeq.sortBy(_._1)) {
      val types = load(tbl).schema.map(f => f.name -> f.dataType).toMap
      for ((c, dom) <- cols) {
        val top = BigInt(base(dom)) * factor - 1
        require(top <= typeMax(types(c)),
          s"$tbl.$c (domain $dom, ${types(c).simpleString}) would reach " +
            s"offset key $top at x$factor — past the column type's max; " +
            "a non-ANSI cast would wrap and collide keys across replicas")
      }
    }
    for (dom <- Seq("doc", "vec")) {
      val top = base(dom) * factor - 1
      require(top < graft.queries.DedupPack.PlantedOffset,
        s"$dom ids would reach $top ≥ PlantedOffset " +
          s"(${graft.queries.DedupPack.PlantedOffset}) at x$factor — " +
          "replica ids would read as planted twins; raise the offset first")
    }
    // fixed dims copy verbatim; everything else replicates with offsets
    Seq("region", "nation").foreach { t =>
      load(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    keyCols.keys.toSeq.sorted.foreach { t =>
      replicate(load(t), keyCols(t).map { case (c, d) => c -> base(d) },
        factor)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      System.err.println(s"[scaleup] $t x$factor -> $outDir/$t.parquet")
    }
  }

  /** ×factor via an exploded copy index — narrow, no shuffle; key
    * columns keep their ORIGINAL integer type (the gate's hash is
    * type-sensitive, so a silent int->long widening would be a
    * schema drift, not a scale-up). */
  private def replicate(df: DataFrame, keys: Seq[(String, Long)],
                        factor: Int): DataFrame = {
    if (factor == 1) return df
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    val withCopy = df.withColumn("__copy",
      explode(sequence(lit(0), lit(factor - 1))))
    keys.foldLeft(withCopy) { case (d, (c, b)) =>
      d.withColumn(c,
        (col(c).cast("long") + col("__copy").cast("long") * lit(b))
          .cast(types(c)))
    }.drop("__copy")
  }
}
