package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distinct unordered pairs of rows sharing a key, with bounded
  * per-task state — the scale-safe core of the near-dup suite
  * (n-gram Jaccard, MinHash-LSH band buckets, SimHash blocks, blocked
  * exact all-pairs).
  *
  * The naive inverted-index expansion (`collect_list` per key, expand
  * in-row) holds a whole bucket in one aggregation buffer and emits
  * O(f²) pairs from one task — fine for the median key, fatal for a
  * hot key (one stop-shingle shared by 10⁶ docs = one 10¹²-pair task).
  * This operator routes by bucket size instead:
  *
  *  - keys with `2 ≤ f ≤ cap` members collect in-row as before
  *    (buffer ≤ cap rows, ≤ cap² pairs per task);
  *  - keys with `f > cap` members are hash-split into `⌈f/cap⌉`
  *    blocks; every unordered block pair (bi ≤ bj) becomes its own
  *    reduce group holding ≤ ~2·cap members and emitting ≤ ~cap²
  *    pairs. Replication cost is f·⌈f/cap⌉ rows — the f² pair work is
  *    unavoidable by definition; what matters is that it is spread
  *    over (f/cap)²/2 tasks instead of one.
  *
  * ROUTING IS FULLY IN-PLAN (round 19): a bounded-collect
  * aggregation yields every bucket's exact count and — within the cap
  * — its members, so small buckets are materialized by the same
  * aggregate that sizes them, and only the over-cap keys (reduced to
  * key + count, buffer-bounded) feed a lazily-broadcast re-route of
  * the hot rows. The plan reads that aggregate TWICE (the small arm
  * and the hot-key broadcast) and scans the input a further time for
  * the hot-row join, so unless Spark reuses the aggregate's exchange
  * it runs more than once per action — callers whose input is
  * expensive to recompute pin it first. Building the pair DataFrame
  * launches ZERO eager jobs and collects NOTHING to the driver; the
  * only driver state is the in-plan hot-list broadcast, loudly
  * guarded by Spark's broadcast limits.
  *
  * Every unordered pair {x, y} of rows sharing a key is emitted
  * exactly once per key, ordered `pa < pb` by the payload's natural
  * (struct) ordering — callers put the id field first. Pairs sharing
  * several keys appear once per key (q27 counts those; q28/q29
  * `.distinct()` them away).
  */
object KeyedPairs {

  // All internal working columns carry the __kp_ prefix so they can
  // never capture a caller's key column (q29 keys on a column named
  // "blk" — an unprefixed withColumn("blk", ...) would silently
  // REPLACE that grouping key and drop cross-block pairs in the
  // hot-bucket path).
  private val F = "__kp_f"; private val NB = "__kp_nb"; private val BLK = "__kp_blk"
  private val BI = "__kp_bi"; private val BJ = "__kp_bj"; private val ISA = "__kp_isA"
  private val P = "__kp_p"; private val PR = "__kp_pr"; private val FC = "__kp_fc"
  private val AS = "__kp_as"; private val BS = "__kp_bs"; private val DIAG = "__kp_diag"

  /** @param df      input rows
    * @param keys    bucket key columns (pairs form within a key)
    * @param payload what each side of a pair carries; the FIRST field
    *                must be a unique, orderable id (pair order + the
    *                block-split hash derive from the whole payload)
    * @param cap     max members expanded in one task (≥ 2)
    * @return columns `pa`, `pb` (payload type), one row per (key, pair)
    */
  def pairs(df: DataFrame, keys: Seq[String], payload: Column, cap: Int): DataFrame =
    pairsGrouped(df, keys, payload, cap)
      .select(explode(org.apache.spark.sql.graftfns.PairFunctions
        .pairExpand(col("as_"), col("bs"), col("diag"))).as(PR))
      .select(col(s"$PR.pa").as("pa"), col(s"$PR.pb").as("pb"))

  /** The block-pair GROUPS behind [[pairs]], before pair expansion —
    * the keyed analogue of [[allPairsGrouped]] (round 18): returns
    * `keys..., as_, bs, diag` with `as_`/`bs` the two sides' payload
    * arrays (small buckets: the whole bucket in `as_`, `bs` empty,
    * `diag` true; hot buckets: one row per unordered block pair,
    * `diag` = within-block). Callers that only need a REDUCTION of
    * each bucket's pairs (threshold scoring, per-task top-k) fuse it
    * into one expression over the arrays instead of materializing
    * cap² pair structs per task — for embedding payloads that is the
    * difference between a sparse survivor graph and gigabytes of
    * transient two-embedding pair rows. Routing rides the
    * bounded-collect aggregate (see the object doc for what it costs);
    * [[pairs]] itself is the pairExpand of this relation.
    */
  def pairsGrouped(df: DataFrame, keys: Seq[String], payload: Column, cap: Int): DataFrame = {
    require(cap >= 2, s"cap must be >= 2, got $cap")
    require(!keys.exists(Set("as_", "bs", "diag")),
      "key columns may not be named as_/bs/diag (the grouped output columns)")
    require(keys.forall(!_.startsWith("__kp_")), "key columns may not use the __kp_ prefix")
    val k = keys.map(col)
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val rows = df.select(k :+ payload.as(P): _*)
    val emptyPs = array().cast(
      org.apache.spark.sql.types.ArrayType(rows.schema(P).dataType))
    // routing from ONE aggregate (round 19): bounded_collect
    // yields each bucket's exact count AND — for buckets within the
    // cap — its full member list, with a HARD cap+1 buffer bound per
    // key (a hot key keeps counting but stops collecting). Small
    // buckets come out of the aggregate already materialized; only
    // the over-cap keys — rare by construction, each reduced to
    // (key, count) — feed a lazily-broadcast routing join for the
    // block split. Nothing runs eagerly and nothing is collected to
    // the driver at build time; the hot-list broadcast materializes
    // inside the action and Spark's broadcast limits are its loud
    // guard (a corpus with millions of over-cap keys fails with the
    // broadcast-size error, naming this join). Two rejected
    // alternatives, both slower in same-JVM A/Bs: a window count
    // (sorts the whole input by key and serializes each hot bucket
    // through one task — q63 1.1 → 1.9 s) and lazily broadcasting the
    // old THREE-pass routing (strictly slower still).
    val agged = rows.groupBy(k: _*)
      .agg(org.apache.spark.sql.graftfns.BoundedCollect
        .boundedCollect(col(P), cap).as(FC))
    // the explicit repartition keeps the (byte-light) pair expansion
    // wide: AQE would coalesce the tiny post-agg shuffle to one
    // partition and serialize the compute
    val small = agged.filter(col(s"$FC.n") <= cap)
      .repartition(nPart, k: _*)
      .select(k ++ Seq(col(s"$FC.items").as("as_"), emptyPs.as("bs"),
        lit(true).as("diag")): _*)
    val hk = keys.indices.map(i => s"__kp_h$i")
    val hot = agged.filter(col(s"$FC.n") > cap)
      .select(k.zip(hk).map { case (c, h) => c.as(h) } :+ col(s"$FC.n").as(F): _*)
    // null-safe (<=>): a NULL key is a bucket like any other, and an
    // equi-join would drop an over-cap NULL bucket from both arms.
    // spread = false: the broadcast join leaves each hot bucket's rows
    // on their natural input partitions — already distributed, so the
    // replication explode is map-side wide without an extra exchange
    val big = bigArm(rows.join(broadcast(hot),
        keys.zip(hk).map { case (c, h) => rows(c) <=> hot(h) }.reduce(_ && _))
        .drop(hk: _*), keys, nPart, cap, spread = false)
      .select(k ++ Seq(col(AS).as("as_"), col(BS).as("bs"),
        col(DIAG).as("diag")): _*)
    small.unionByName(big)
  }

  /** The shared routing core: `rows` carries the bucket key columns,
    * the bucket size in [[F]] and the payload in [[P]]; returns the
    * grouped relation `keys..., __kp_as, __kp_bs, __kp_diag`. Pure
    * map-side routing on the carried size — small buckets (f ≤ cap)
    * collect in-row, hot buckets hash-split into bounded block pairs.
    * The explicit repartitions keep the (byte-light) downstream work
    * wide: AQE would coalesce the tiny post-agg shuffles to one
    * partition and serialize the pair expansion.
    */
  private def groupedFromSized(rows: DataFrame, keys: Seq[String],
      cap: Int): DataFrame = {
    val k = keys.map(col)
    val nPart = rows.sparkSession.sessionState.conf.numShufflePartitions
    val emptyPs = array().cast(
      org.apache.spark.sql.types.ArrayType(rows.schema(P).dataType))
    // spread = true: presized callers' rows arrive concentrated per
    // group (DupCollapse members flow out of the collapse window with
    // each group in one task), so the hot arm must redistribute before
    // the replication explode
    smallArm(rows.filter(col(F) <= cap), keys, nPart, emptyPs)
      .unionByName(bigArm(rows.filter(col(F) > cap), keys, nPart, cap,
        spread = true))
  }

  private def smallArm(small: DataFrame, keys: Seq[String], nPart: Int,
      emptyPs: Column): DataFrame = {
    val k = keys.map(col)
    small.groupBy(k: _*).agg(collect_list(col(P)).as(AS))
      .repartition(nPart, k: _*)
      .select(k ++ Seq(col(AS), emptyPs.as(BS), lit(true).as(DIAG)): _*)
  }

  /** Hot buckets: split members into nb = ⌈f/cap⌉ hash-blocks.
    * A row in block b joins group (b, j) for all j ≥ b as the A side,
    * and group (i, b) for all i < b as the B side; so each unordered
    * block pair is one group, the diagonal group (b, b) holds the
    * block itself once (A side only). `big` must carry the bucket size
    * in [[F]] on every row (only rows with f > cap).
    */
  private def bigArm(big0: DataFrame, keys: Seq[String], nPart: Int,
      cap: Int, spread: Boolean): DataFrame = {
    val k = keys.map(col)
    // spread: redistribute hot-bucket rows over a deterministic
    // synthetic key BEFORE the ×nb replication explode when the
    // caller's input arrives concentrated per group — f·⌈f/cap⌉ rows
    // emitted serially from one task is exactly the straggler the
    // block split exists to avoid. The key is a payload hash
    // (deterministic under task retry, unlike round-robin) with ~64
    // values per partition so the spread is even (guide §2.5). Costs
    // one extra f-row hop — 1/nb of the replication shuffle that
    // follows; same-JVM A/B: never slower where it applies.
    val big = (if (spread)
        big0.repartition(nPart, pmod(xxhash64(col(P)), lit(nPart * 64L)))
      else big0)
      .withColumn(NB, ceil(col(F) / lit(cap)).cast("int"))
      .withColumn(BLK, pmod(xxhash64(col(P)), col(NB)).cast("int"))
    val aSide = big.select(k ++ Seq(col(BLK).as(BI),
      explode(sequence(col(BLK), col(NB) - 1)).as(BJ),
      col(P), lit(true).as(ISA)): _*)
    val bSide = big
      .filter(col(BLK) > 0)  // sequence(0, -1) would count DOWN
      .select(k ++ Seq(explode(sequence(lit(0), col(BLK) - 1)).as(BI),
        col(BLK).as(BJ), col(P), lit(false).as(ISA)): _*)
    aSide.unionByName(bSide)
      .groupBy(k ++ Seq(col(BI), col(BJ)): _*)
      // collect_list skips nulls: each side's members, ≤ ~cap each
      .agg(collect_list(when(col(ISA), col(P))).as(AS),
           collect_list(when(!col(ISA), col(P))).as(BS))
      .repartition(nPart, k ++ Seq(col(BI), col(BJ)): _*)
      // within-block (bi == bj) and cross-block groups in one stream
      // (blocks differ => x ≠ y on the cross arm)
      .select(k ++ Seq(col(AS), col(BS), (col(BI) === col(BJ)).as(DIAG)): _*)
  }

  /** [[pairs]] for callers that ALREADY KNOW each key's bucket size —
    * e.g. DupCollapse members, which carry the group's member count on
    * every row. Same routing core as [[pairsGrouped]] minus the window
    * count: with the size on the row, routing is a pure map-side
    * filter — one pass over the input, no shuffle beyond the ones the
    * pair expansion itself needs. Same output contract as [[pairs]]:
    * every unordered pair of rows sharing a key, exactly once per key,
    * `pa < pb` by payload order.
    *
    * @param sizeCol the EXACT number of rows sharing this row's key —
    *                wrong sizes break the routing (an undersized hot
    *                bucket lands whole on the single-task path; an
    *                oversized small bucket splits needlessly but stays
    *                correct). A NULL size (or one whose cast to long
    *                nulls out) fails LOUDLY at execution: both routing
    *                filters would silently drop the row otherwise,
    *                yielding a wrong pair set instead of an error.
    */
  def pairsPresized(df: DataFrame, keys: Seq[String], sizeCol: Column,
                    payload: Column, cap: Int): DataFrame = {
    require(cap >= 2, s"cap must be >= 2, got $cap")
    require(keys.forall(!_.startsWith("__kp_")), "key columns may not use the __kp_ prefix")
    val k = keys.map(col)
    val rows = df.select(k ++ Seq(
      coalesce(sizeCol.cast("long"), raise_error(lit(
        "KeyedPairs.pairsPresized: sizeCol is NULL (or not castable to long) — " +
        "every row must carry its key's exact bucket size; a NULL would be " +
        "dropped by both routing filters and silently corrupt the pair set")))
        .as(F),
      payload.as(P)): _*)
    groupedFromSized(rows, keys, cap)
      .select(explode(org.apache.spark.sql.graftfns.PairFunctions
        .pairExpand(col(AS), col(BS), col(DIAG))).as(PR))
      .select(col(s"$PR.pa").as("pa"), col(s"$PR.pb").as("pb"))
  }

  /** All unordered pairs of the WHOLE table — the degenerate
    * one-bucket case, for exact all-pairs similarity. A keyed call
    * with a constant key would window-count a single global partition;
    * here the member count is read once up front instead, making the
    * block count a literal: the whole plan is two projections, one
    * shuffle on (bi, bj), and bounded in-task expansion — nothing
    * broadcast, no join.
    */
  def allPairs(df: DataFrame, payload: Column, cap: Int): DataFrame =
    allPairsGrouped(df, payload, cap, df.count())
      .select(explode(org.apache.spark.sql.graftfns.PairFunctions
        .pairExpand(col("as_"), col("bs"), col("bi") === col("bj"))).as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))

  /** The block-pair GROUPS behind [[allPairs]], before pair expansion:
    * (bi, bj, as_, bs) with as_/bs the two sides' payload arrays
    * (diagonal groups have bs empty). Exposed so callers that only
    * need a REDUCTION of each group's pairs (per-task top-k scoring,
    * counting) can fuse it into one expression over the arrays instead
    * of materializing cap² pair structs per task — the shuffle after
    * the fused op carries the reduced rows only.
    *
    * `n` is the row count of `df` — callers that already hold it
    * (memoized corpus statistics) pay no eager counting job. `n` only
    * sizes the block grid: an ESTIMATE is safe for correctness (every pair is
    * still emitted exactly once for any nb >= 1) — an underestimate
    * grows per-task members beyond cap by the same factor, an
    * overestimate multiplies the row-replication shuffle, so callers
    * should stay within a small factor of the truth.
    */
  def allPairsGrouped(df: DataFrame, payload: Column, cap: Int, n: Long): DataFrame = {
    require(cap >= 2, s"cap must be >= 2, got $cap")
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val rows = df.select(payload.as("p"))
    val nb = math.max(1L, (n + cap - 1) / cap).toInt
    val withBlk = rows.withColumn("blk", pmod(xxhash64(col("p")), lit(nb)).cast("int"))
    val aSide = withBlk.select(col("blk").as("bi"),
      explode(sequence(col("blk"), lit(nb - 1))).as("bj"), col("p"), lit(true).as("isA"))
    val bSide = withBlk.filter(col("blk") > 0)
      .select(explode(sequence(lit(0), col("blk") - 1)).as("bi"),
        col("blk").as("bj"), col("p"), lit(false).as("isA"))
    aSide.unionByName(bSide)
      .groupBy(col("bi"), col("bj"))
      .agg(collect_list(when(col("isA"), col("p"))).as("as_"),
           collect_list(when(!col("isA"), col("p"))).as("bs"))
      .repartition(nPart, col("bi"), col("bj"))
  }
}
