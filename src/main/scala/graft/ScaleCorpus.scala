package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic dup-heavy scale-up corpus builder — the committed,
  * reproducible recipe behind every "10×" measurement in COVERAGE.md
  * (earlier rounds built it with an ad-hoc scratch script; this main is
  * the durable replacement so the numbers can always be regenerated).
  *
  * Recipe (factor F, default 10): each FACT table becomes F copies of
  * itself with primary ids remapped into disjoint ranges
  * (`id + copy·10_000_000`) and EVERYTHING ELSE byte-identical:
  *
  *  - `documents`: doc_id remapped; text/lang/source/n_chars unchanged
  *    ⇒ every distinct text becomes an F-copy exact-duplicate clique —
  *    deliberately the WORST case for bucket-local pair generators
  *    (every LSH/simhash/containment bucket gains F near-identical
  *    members ⇒ ~F² candidate pairs) and the best case for proving the
  *    dedup-first discipline removes that term.
  *  - `embeddings`: vec_id remapped; vectors/labels unchanged ⇒ F-copy
  *    cliques for the ANN/near-dup family.
  *  - `events`: event_id remapped; **user_id and ts intentionally NOT
  *    perturbed** ⇒ per-user event streams (and so sessionization /
  *    sequence-match window state) grow F× by construction.
  *  - `lineitem`/`orders`: l_orderkey/o_orderkey remapped in lockstep so
  *    the order↔lineitem join fans out F× while every remapped order
  *    still resolves; o_custkey/l_partkey/l_suppkey unchanged so the
  *    dimension joins keep resolving (dims stay broadcast-sized, which
  *    is the 100 TB shape: facts grow, dims don't).
  *  - dims (`region nation customer supplier part`): copied through
  *    unchanged.
  *
  * Zero randomness anywhere — same inputs always produce the same rows,
  * so scale ratios recorded in COVERAGE.md are reproducible across
  * rounds and machines.
  *
  * Usage: runMain graft.ScaleCorpus <srcSfDir> <outDir> [factor]
  * [clean|manysrc[N]] — `clean` switches `documents` to the low-dup
  * recipe of [[scaledCleanDocs]]; `manysrc` (optionally `manysrc512`)
  * to the many-pseudo-sources + universal-boilerplate recipe of
  * [[scaledManySrc]] (all other tables keep the dup recipe in both
  * modes).
  */
object ScaleCorpus {

  private val Stride = 10000000L // validated per table in build()

  /** FACT table → its remapped id columns (all other columns copied). */
  private val factIds: Map[String, Seq[String]] = Map(
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events"     -> Seq("event_id"),
    "lineitem"   -> Seq("l_orderkey"),
    "orders"     -> Seq("o_orderkey"))

  /** F stacked copies with id columns shifted into disjoint ranges;
    * column order preserved so the written schema matches the source.
    *
    * The SOURCE is repartitioned before the explode (r17): the sf0.1
    * fact files are one or a few parquet files, so the ×F explode —
    * the whole build's CPU — otherwise runs inside the scan's single
    * task (measured: the 300× lineitem build pegged ONE core for 30+
    * minutes while 31 idled). Exchanging the small source first costs
    * nothing and spreads the explode across the write width; the
    * produced ROWS are identical either way — only task boundaries
    * move. */
  def scaled(df: DataFrame, idCols: Seq[String], factor: Int): DataFrame = {
    val cols = df.columns
    df.repartition(writeFiles(factor))
      .withColumn("copy_i", explode(expr(s"sequence(0, ${factor - 1})")))
      .select(cols.map { c =>
        if (idCols.contains(c)) (col(c) + col("copy_i") * lit(Stride)).as(c)
        else col(c)
      }: _*)
  }

  /** Output file count per fact table: 8 matches every capture ≤300×;
    * the 1000× corpus (~15 GB, r16 verdict task 6) writes 64-way or
    * the build serializes on 8 cores. Readers re-normalize scan
    * parallelism via the wideScan guard, so file count is a
    * write-wall detail, not a bench variable. */
  private def writeFiles(factor: Int): Int = if (factor >= 1000) 64 else 8

  /** CLEAN-mode documents (r15): same F-copy id remap, but every copy
    * past the first rewrites EVERY token with a per-copy FIXED-WIDTH
    * suffix (`tok` → `tokc0007`), so copies share no word n-grams, no
    * char-4-gram profiles, no simhash signatures — the scaled corpus
    * stays
    * deterministic but has the LOW-DUP gram structure of a production
    * corpus instead of the dup recipe's F-copy cliques. Copy 0 is
    * byte-identical to the source, so the base corpus remains a
    * subset. `n_chars` is recomputed from the rewritten text (suffixes
    * lengthen tokens). Built to bracket the Bloom-contamination
    * crossover the dup corpus inverts: with copies' grams disjoint,
    * train/test gram overlap stays base-sized while distinct train
    * grams grow ~F×, which is exactly the regime the map-side Bloom
    * prune exists for (survivors ≈ fpp·|train| + true hits, not ≈
    * |train|). Other tables keep the dup recipe — the knob isolates
    * the DOCUMENT gram structure, the one variable the crossover
    * depends on.
    *
    * Collision-freedom (r16, was an r15 ADVICE gap): the suffix is
    * `c` + the copy number ZERO-PADDED to [[SuffixWidth]] digits. With
    * equal-width suffixes, two rewritten tokens from copies i ≠ j can
    * never collide — equality would force their last 1+width chars
    * (the suffixes) equal, hence i = j. The only residual risk is a
    * SOURCE token (copy 0, unchanged) that already ends in a live
    * suffix shape; [[assertCleanSuffixSafe]] rejects that corpus at
    * build time instead of assuming it away. */
  private[graft] val SuffixWidth = 4

  def scaledCleanDocs(df: DataFrame, idCols: Seq[String], factor: Int)
      : DataFrame = {
    require(factor <= 9999, s"clean suffix width $SuffixWidth caps factor at 9999")
    val cols = df.columns
    df.repartition(writeFiles(factor)) // parallelize the explode (see [[scaled]])
      .withColumn("copy_i", explode(expr(s"sequence(0, ${factor - 1})")))
      .withColumn("text",
        when(col("copy_i") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1c"), lpad(col("copy_i"), SuffixWidth, "0")))))
      .withColumn("n_chars", char_length(col("text")))
      .select(cols.map { c =>
        if (idCols.contains(c)) (col(c) + col("copy_i") * lit(Stride)).as(c)
        else col(c)
      }: _*)
  }

  /** Build-time guard for the copy-0 edge the fixed-width suffix can't
    * close by construction: a source token that already ends in
    * `c<width digits>` whose value lands in [1, factor) would make the
    * unchanged copy 0 share that token with a rewritten copy. One
    * cheap distinct-token scan (conservative — it doesn't also check
    * that the stripped prefix is itself a token); refuses the corpus
    * with the offending tokens named rather than silently weakening
    * the copies-share-no-grams invariant every Bloom-crossover number
    * rests on. */
  def assertCleanSuffixSafe(df: DataFrame, factor: Int): Unit = {
    val pat = s"c[0-9]{$SuffixWidth}$$"
    val offenders = df
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .where(col("tok").rlike(pat))
      .withColumn("suffix_val",
        substring(col("tok"), -SuffixWidth, SuffixWidth).cast("int"))
      .where(col("suffix_val") >= 1 && col("suffix_val") < factor)
      .select("tok").distinct().limit(5)
      .collect().map(_.getString(0)) // bounded: ≤5 rows, build-time only
    require(offenders.isEmpty,
      s"ScaleCorpus clean mode: source tokens collide with the per-copy " +
        s"suffix shape (factor=$factor): ${offenders.mkString(", ")} — " +
        "raise SuffixWidth or change the marker")
  }

  /** MANY-SOURCES mode (r17, r16 verdict tasks 2/7): the live corpus
    * has a handful of sources, so neither the overlap matrix's
    * holders² pair term nor greedy selection's k anti-join rounds ever
    * stress. This recipe keeps the dup id remap but (a) spreads
    * documents over `nSources` pseudo-sources (`src_0000` …,
    * deterministic `pmod(doc_id, n)` — copies land across sources, so
    * sources share real vocabulary) and (b) appends a fixed
    * [[BoilerplateTokens]]-token boilerplate sentence to EVERY
    * document — the production phenomenon (license headers, nav bars)
    * that mints grams held by ALL sources. Each boilerplate bigram is
    * then a universal gram: the uncapped pair join emits
    * |S|·(|S|−1)/2 rows for every one of them (the unguarded tail the
    * capped spelling exists for), while `docs_source_overlap_capped`
    * drops them under its τ=1/2 document-frequency rule. Tokens are
    * `zzboiler00`… — shapes absent from the generated corpus
    * vocabulary, so the knob adds exactly the universal grams it
    * means to. */
  private[graft] val BoilerplateTokens = 64
  private[graft] val boilerplate: String =
    (0 until BoilerplateTokens).map(i => f"zzboiler$i%02d").mkString(" ")

  def scaledManySrc(df: DataFrame, idCols: Seq[String], factor: Int,
                    nSources: Int): DataFrame =
    scaled(df, idCols, factor)
      .withColumn("source",
        concat(lit("src_"),
          lpad(pmod(col("doc_id"), lit(nSources.toLong)).cast("string"),
            4, "0")))
      .withColumn("text", concat(col("text"), lit(" " + boilerplate)))
      .withColumn("n_chars", char_length(col("text")))

  def build(spark: SparkSession, src: String, out: String, factor: Int,
            cleanDocs: Boolean = false, manySrc: Int = 0): Unit =
    Tables.corpusTables.foreach { t =>
      val base = Tables.table(spark, src, t)
      val df = factIds.get(t) match {
        case Some(ids) =>
          // the disjointness of `id + copy·Stride` ranges is what the
          // duplicate-clique structure rests on — validate it instead of
          // assuming it (one cheap agg per fact table): a source id ≥
          // Stride would silently collide remapped ids across copies
          val maxes = base.agg(
            max(col(ids.head)).cast("long").as(ids.head),
            ids.tail.map(c => max(col(c)).cast("long").as(c)): _*).head()
          ids.zipWithIndex.foreach { case (c, i) =>
            val mx = if (maxes.isNullAt(i)) 0L else maxes.getLong(i)
            require(mx < Stride,
              s"ScaleCorpus: $t.$c max id $mx >= stride $Stride — remapped " +
                "copies would collide; raise Stride")
          }
          val sc =
            if (cleanDocs && t == "documents") {
              assertCleanSuffixSafe(base, factor)
              scaledCleanDocs(base, ids, factor)
            } else if (manySrc > 0 && t == "documents")
              scaledManySrc(base, ids, factor, manySrc)
            else scaled(base, ids, factor)
          // the pre-explode source repartition already fixed the
          // partition count at writeFiles(factor) — each task explodes
          // its slice and writes one file, no post-explode shuffle of
          // the scaled data
          sc
        case None => base // dims copy through unchanged
      }
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val cleanDocs = args.length > 3 && args(3) == "clean"
    // `manysrc` or `manysrc<N>` (default 256 pseudo-sources)
    val manySrc =
      if (args.length > 3 && args(3).startsWith("manysrc")) {
        val n = args(3).stripPrefix("manysrc")
        if (n.isEmpty) 256 else n.toInt
      } else 0
    val spark = Session.builder().appName("graft-scale-corpus").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, src, out, factor, cleanDocs, manySrc)
    println(s"SCALED $src -> $out factor=$factor" +
      (if (cleanDocs) " mode=clean"
       else if (manySrc > 0) s" mode=manysrc($manySrc)"
       else " mode=dup"))
    spark.stop()
  }
}
