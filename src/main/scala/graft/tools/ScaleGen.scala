package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-sensitivity harness: writes a K×-replicated copy of a test-data
  * scale factor (default 10× sf0.1 ≈ "sf1") so the bench can measure how
  * each query's runtime grows with data volume — the round-5 evidence
  * that no operator is super-linear (VERDICT round 4, next-step 6).
  *
  * Replication shifts every key column by replica·base, preserving join
  * fan-outs and per-key row counts (each replica is a disjoint,
  * internally-consistent copy). Dimension tables with enumerated domains
  * (region, nation) are copied as-is — exactly how a 10× TPC-H scale-up
  * behaves. Text/embedding payloads repeat verbatim, which makes the
  * dedup family's work GROW (every doc gains 9 exact clones) — the
  * stress direction we want for dedup-at-scale evidence.
  *
  * Each key DOMAIN has ONE shift base, `max(key in the owning table)+1`
  * (partkey from part, custkey from customer, …), shared by every column
  * referencing that domain. Deriving the base per fact-side column would
  * cross-wire FKs whenever coverage is sparse (dim max > fact max — real
  * TPC-H has customers with no orders), silently changing the per-key
  * fan-outs this tool exists to preserve.
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> [k]
  */
object ScaleGen {

  /** key domain → (owning table, its key column): the base source. */
  private val domains: Map[String, (String, String)] = Map(
    "custkey"  -> ("customer", "c_custkey"),
    "suppkey"  -> ("supplier", "s_suppkey"),
    "partkey"  -> ("part", "p_partkey"),
    "orderkey" -> ("orders", "o_orderkey"),
    "eventid"  -> ("events", "event_id"),
    "userid"   -> ("events", "user_id"),
    "docid"    -> ("documents", "doc_id"),
    "vecid"    -> ("embeddings", "vec_id"))

  /** shifted columns per table, each mapped to its key domain */
  private val keyCols: Map[String, Seq[(String, String)]] = Map(
    "region"     -> Seq.empty,
    "nation"     -> Seq.empty,
    "customer"   -> Seq("c_custkey" -> "custkey"),
    "supplier"   -> Seq("s_suppkey" -> "suppkey"),
    "part"       -> Seq("p_partkey" -> "partkey"),
    "orders"     -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
    "lineitem"   -> Seq("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
                        "l_suppkey" -> "suppkey"),
    "events"     -> Seq("event_id" -> "eventid", "user_id" -> "userid"),
    "documents"  -> Seq("doc_id" -> "docid"),
    "embeddings" -> Seq("vec_id" -> "vecid"))

  /** max(key)+1 from the owning table; an empty (or all-NULL) owner yields
    * base 1, so replication of the referencing tables still terminates
    * instead of NPE-ing on a null max. */
  private def domainBase(spark: SparkSession, src: String,
      domain: String): Long = {
    val (table, keyCol) = domains(domain)
    val r = graft.core.Tables.table(spark, src, table).agg(max(col(keyCol))).head()
    if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
  }

  /** Domains whose key IS the primary key of the owning table. `userid`
    * is the one exception: events.user_id is a many-rows-per-key FK-like
    * attribute with no dimension table, so hub rows there must NOT be
    * deduplicated (every replica's events legitimately pile onto the
    * hub user — that pile-up is the point of hub mode). */
  private val pkDomains: Set[String] = domains.keySet - "userid"

  /** Deterministic hub predicate on the ORIGINAL key value: a key is a
    * hub iff xxhash64(key, domain) mod 10000 < hubFrac·10000. Keyed per
    * domain so each domain draws its own ~hubFrac sample; a function of
    * the original value only, so every table referencing the domain
    * agrees on hubness and FKs stay consistent. */
  private def isHub(c: String, domain: String, hubFrac: Double): Column =
    pmod(xxhash64(col(c), lit(domain)), lit(10000L)) <
      lit(math.round(hubFrac * 10000).max(1L))

  /** K replicas of `df`, each key column shifted by replica·(its domain's
    * base) — replica 0 equals the original, replicas occupy disjoint key
    * ranges, and FK columns shift by the SAME base as the PK they point
    * at, so every replica's joins land inside that replica.
    *
    * HUB MODE (`hubFrac > 0`, round-17 verdict #1): a ~hubFrac sample of
    * each domain's keys ("hubs") keeps its ORIGINAL value in every
    * replica instead of shifting — so all K replicas' referencing rows
    * pile onto the one hub key and its degree grows K×, while non-hub
    * keys keep the volume-scaling per-key degree. This is the skew shape
    * plain replication can't produce: per-key fan-out GROWS with scale,
    * the regime the wedge caps / salted joins exist for. PK domains
    * (everything but userid) drop hub replicas >0 in the OWNING table so
    * primary keys stay unique — children still reference the hub K×. */
  def replicate(spark: SparkSession, df: DataFrame,
      keys: Seq[(String, String)], bases: Map[String, Long], k: Int,
      table: String = "", hubFrac: Double = 0.0): DataFrame = {
    if (keys.isEmpty || k <= 1) return df
    val reps = spark.range(k.toLong).toDF("__rep")
    val crossed = df.crossJoin(broadcast(reps))
    val deduped = keys.foldLeft(crossed) { case (acc, (c, domain)) =>
      if (hubFrac > 0 && pkDomains(domain) && domains(domain) == (table, c))
        acc.filter(!(isHub(c, domain, hubFrac) && col("__rep") > 0))
      else acc
    }
    val shifted = keys.foldLeft(deduped) { case (acc, (c, domain)) =>
      val moved = col(c) + col("__rep") * bases(domain)
      acc.withColumn(c,
        if (hubFrac > 0) when(isHub(c, domain, hubFrac), col(c)).otherwise(moved)
        else moved)
    }
    shifted.drop("__rep")
  }

  /** Part-file count for replicated tables: SPARK_GRAFT_SCALEGEN_FILES,
    * default 32. A value that is not an integer fails naming the
    * variable and the value. */
  private[graft] def filesOf(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_SCALEGEN_FILES").fold(32) { v =>
      v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_SCALEGEN_FILES must be an integer, got '$v'"))
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleGen <srcSfDir> <outDir> [k] [hubFrac]")
    val (src, out) = (args(0), args(1))
    val k = if (args.length > 2) args(2).toInt else 10
    val hubFrac = if (args.length > 3) args(3).toDouble else 0.0
    require(hubFrac >= 0 && hubFrac < 1, s"hubFrac $hubFrac outside [0, 1)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.core.Session.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val bases = domains.keys.map(dm => dm -> domainBase(spark, src, dm)).toMap
    // Round-19 (verdict ask #2): the driver's sf dirs are single-row-group
    // parquet, so every scan stage runs as ONE task at any core count and
    // low-vs-high-core A/Bs have no signal on scan-bound queries. K× dirs
    // written here REPLICATE that flaw unless split: replicated tables now
    // write as SPARK_GRAFT_SCALEGEN_FILES files (default 32 — ≥ the bench's
    // widest local core count), so scans parallelize and the scaling probe
    // measures the plans, not the file layout. Round-robin repartition is
    // content-identical (sort-before-repartition keeps it deterministic);
    // the tiny enumerated dims (region, nation) stay single-file.
    val nFiles = filesOf(sys.env)
    graft.core.Tables.all.foreach { t =>
      val df = graft.core.Tables.table(spark, src, t)
      val scaled0 = replicate(spark, df, keyCols(t), bases, k, t, hubFrac)
      val scaled = if (keyCols(t).nonEmpty && nFiles > 1)
        scaled0.repartition(nFiles) else scaled0
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t: ${df.count()} -> ${scaled.count()} rows" +
        (if (hubFrac > 0) s" (hubFrac=$hubFrac)" else ""))
    }
    spark.stop()
  }
}
