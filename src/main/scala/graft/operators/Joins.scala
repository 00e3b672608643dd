package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators Spark lacks as builtins (SURVEY-adjacent scale ops).
  *
  * The naive formulation of a point-in-time join —
  * `l JOIN r ON l.k = r.k AND r.ts <= l.ts` + per-row argmax — plans as a
  * non-equi join (BroadcastNestedLoop or a skewed range explosion) and
  * falls over at scale. The implementations here stay in equi-join /
  * single-shuffle territory regardless of data size.
  */
object Joins {

  /** As-of (point-in-time) join: for every left row, the single most
    * recent right row with `rightTs <= leftTs` on the same key — the
    * trades↔quotes / features↔labels alignment primitive.
    *
    * Union-window form: tag both sides, union them, and carry the latest
    * right-side values forward with `last(_, ignoreNulls)` over
    * (key ORDER BY ts, side) — right rows sort before the left row at
    * equal ts, so the match is INCLUSIVE (ties count), matching DuckDB's
    * `ASOF JOIN ... ON l.ts >= r.ts` which the oracle twin uses. ONE
    * shuffle on the key, no range explosion; at 100 TB this is a plain
    * window over the unioned stream.
    *
    * Right rows must be unique per (keys, rightTs) — dedup first
    * (`Relational.dedupByKey`) so the winner at a tied timestamp is
    * well-defined.
    *
    * @param valueCols right-side columns to carry; emitted as
    *                  `asof_<name>` (null when no right row precedes)
    * @param tolerance max allowed `leftTs − rightTs` gap (same units as
    *                  the ts columns) — pandas `merge_asof(tolerance=…)`:
    *                  a match older than this yields nulls, exactly as if
    *                  no right row preceded. None = unbounded lookback.
    */
  def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String, valueCols: Seq[String],
           tolerance: Option[Long] = None): DataFrame = {
    val lCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
    // the carried payload is ONE struct per right row — non-null even
    // when its members are null, so a matched right row with a null
    // value yields null (as-of semantics) instead of silently falling
    // back to an older row's value. The match's own timestamp rides in
    // the struct so the tolerance gate reads it back without a second
    // carry column.
    val rTagged = right.select(
        (keys.map(col) :+ col(rightTs).as("__ts")) :+
          struct((valueCols.map(col) :+ col(rightTs).as("__mts")): _*).as("__rv"): _*)
      .withColumn("__side", lit(0))
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
    val inRange = tolerance match {
      case Some(t) => col("__ts") - col("__rv").getField("__mts") <= t
      case None => lit(true)
    }
    valueCols.foldLeft(carried) { (acc, c) =>
      acc.withColumn(s"asof_$c", when(inRange, col("__rv").getField(c)))
    }
      .filter(col("__side") === 1)
      .select((lCols ++ valueCols.map(c => s"asof_$c")).map(col): _*)
  }

  /** Nearest-direction as-of join (pandas `merge_asof(direction=
    * 'nearest')`): each left row takes whichever right row is closer in
    * time — the backward carry of [[asof]] plus its mirror-image
    * forward carry over the SAME union frame (still ONE shuffle on the
    * keys, two window passes over it), then a per-row nearer-pick with
    * the pandas tie rule (backward wins at equal distance). A right row
    * at the exact left timestamp is a Δ=0 backward match, so the
    * forward window can safely exclude equal timestamps. */
  def asofNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                  leftTs: String, rightTs: String,
                  valueCols: Seq[String]): DataFrame = {
    val lCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
    val rTagged = right.select(
        (keys.map(col) :+ col(rightTs).as("__ts")) :+
          struct((valueCols.map(col) :+ col(rightTs).as("__mts")): _*).as("__rv"): _*)
      .withColumn("__side", lit(0))
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    val ord = Window.partitionBy(keys.map(col): _*).orderBy(col("__ts"), col("__side"))
    val wB = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = unioned
      .withColumn("__b", last(col("__rv"), ignoreNulls = true).over(wB))
      .withColumn("__f", first(col("__rv"), ignoreNulls = true).over(wF))
    val db = col("__ts") - col("__b").getField("__mts")
    val df = col("__f").getField("__mts") - col("__ts")
    val pickB = col("__f").isNull || (col("__b").isNotNull && db <= df)
    val picked = carried.withColumn("__n", when(pickB, col("__b")).otherwise(col("__f")))
    valueCols.foldLeft(picked) { (acc, c) =>
      acc.withColumn(s"asof_$c", col("__n").getField(c))
    }
      .withColumn("asof_dt", when(col("__n").isNotNull,
        abs(col("__ts") - col("__n").getField("__mts"))))
      .filter(col("__side") === 1)
      .select((lCols ++ valueCols.map(c => s"asof_$c") :+ "asof_dt").map(col): _*)
  }

  /** Bucketed co-located layout — the 100 TB fact-fact join answer.
    * Write a table ONCE bucketed (and sorted) on its join key; every
    * subsequent equi-join between tables bucketed into the SAME bucket
    * count on their join keys is exchange-free: the parquet scan reports
    * the bucket spec as `HashPartitioning`, SortMergeJoin's distribution
    * requirement is already satisfied, and no shuffle of either side
    * appears in the plan (JoinsSpec asserts this on the executed plan).
    * This is the layout for joins too big to broadcast and too hot to
    * re-shuffle per query — the shuffle is paid once, at write time.
    *
    * The `repartition(buckets, key)` before the write matters: bucket
    * files use the same Murmur3 hash as `HashPartitioning`, so each
    * task then holds exactly one bucket and writes exactly ONE file per
    * bucket — which is also what lets the scan expose the `sortBy`
    * order and drop the SMJ's per-side Sort. */
  def writeBucketed(df: DataFrame, key: String, buckets: Int,
                    table: String, path: String): Unit =
    df.repartition(buckets, col(key))
      .write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Delete `dir` recursively at JVM exit — see [[graft.sources.Scratch]],
    * which owns the per-process scratch mechanism. */
  def scratchDeleteOnExit(dir: String): Unit =
    graft.sources.Scratch.deleteOnExit(dir)

  /** Salted equi-join for skewed keys. A plain shuffle join sends every
    * row of a hot key to ONE reducer — the straggler that dominates the
    * stage at scale (AQE's skew split can divide the sorted runs, but
    * the hot key still concentrates through one exchange write path).
    * Salting changes the SHUFFLE KEY itself: the left (big, skewed)
    * side gets a deterministic salt in [0, saltFactor) hashed from a
    * stable row id, the right side is replicated once per salt value,
    * and the join runs on (key, salt) — the hot key's rows spread over
    * `saltFactor` partitions.
    *
    * The salt is `pmod(xxhash64(saltIdCol), saltFactor)` — deterministic,
    * so task retries and the DuckDB oracle replay identically (same
    * reason `Relational.saltedAgg` rejects `rand()`).
    *
    * Right side is replicated saltFactor× — intended for dimension-ish
    * right tables far too big to broadcast only at saltFactor ≈ 1;
    * in the common case (modest dim, brutal left skew) the replication
    * is noise next to the straggler it removes. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltIdCol: String, saltFactor: Int): DataFrame = {
    require(saltFactor > 0, "saltFactor must be positive")
    val l = left.withColumn("__salt", pmod(xxhash64(col(saltIdCol)), lit(saltFactor.toLong)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltFactor.toLong - 1L))))
    l.join(r, keys :+ "__salt").drop("__salt")
  }

  /** Range (interval) join: left points against right intervals
    * `[lo, hi)` on the same key. The naive `ON p >= lo AND p < hi` is a
    * nested-loop plan; this binned form equi-joins on (key, bin) where
    * bin = floor(value / binWidth), exploding each interval only into the
    * bins it overlaps (intervals ≪ binWidth ⇒ ~1-2 bins each), then
    * refines with the exact predicate. Candidates scale with overlap
    * density, not |L|×|R|.
    *
    * @param binWidth bucket width in point units — choose ≥ the typical
    *                 interval length so explosion stays O(1) per interval
    */
  def rangeJoinBinned(points: DataFrame, intervals: DataFrame, keys: Seq[String],
                      pointCol: String, loCol: String, hiCol: String,
                      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val p = points.withColumn("__bin", floor(col(pointCol) / binWidth))
    val i = intervals.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth),
        // hi is exclusive: a hi exactly on a bin edge contributes nothing
        // to that bin, but sequence() is inclusive — the refine filter
        // removes any false candidates it admits
        floor(col(hiCol) / binWidth))))
    val joined = p
      .join(i, keys.map(k => p(k) === i(k)).reduce(_ && _) && p("__bin") === i("__bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
    keys.foldLeft(joined)((acc, k) => acc.drop(i(k)))
      .drop(p("__bin")).drop(i("__bin"))
  }

  /** Bloom-pre-filtered equi join — Spark's runtime-filter pattern made
    * explicit: build a bloom filter over the SMALL side's join keys,
    * guard the BIG side with a codegen'd `might_contain` probe
    * ([[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]],
    * the same expression Catalyst's `InjectRuntimeFilter` uses), then
    * run the exact equi join. Non-matching fact rows die MAP-SIDE —
    * before the shuffle writes them — which is the whole point at
    * 100 TB: when the dim side is too big to broadcast but its key set
    * is selective, the shuffle shrinks by the fact's miss rate. Bloom
    * false positives are harmless (the exact join refines), so the
    * result is identical to the plain join at any fpp.
    *
    * Building the bloom is an eager driver-side action over the small
    * side at call time (like [[writeBucketed]]'s eager write): the
    * filter must exist before the big side's plan can reference it —
    * Spark's own runtime filter does the same work in a subquery stage.
    *
    * Both key columns must be integral (the probe hashes a LONG, as
    * Spark's runtime filter does).
    */
  def bloomPreFilteredJoin(big: DataFrame, bigKey: String,
                           small: DataFrame, smallKey: String,
                           expectedItems: Long, fpp: Double): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    // stat.bloomFilter inserts integral keys with putLong (the sketch
    // hashes internally); BloomFilterMightContain probes with
    // mightContainLong on its RAW long input, so put and probe agree as
    // long as the key reaches the probe uncast-mangled.
    val bf = small.stat.bloomFilter(smallKey, expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val probe = ColumnBridge.column(BloomFilterMightContain(
      Literal.create(bytes, BinaryType),
      ColumnBridge.expression(big(bigKey).cast("long"))))
    big.filter(probe).join(small, big(bigKey) === small(smallKey))
  }

  /** Fuzzy (edit-distance) equi-ized join — entity resolution without the
    * n² cross product. The naive `levenshtein(l, r) <= d` predicate is a
    * nested-loop plan; this q-gram-blocked form generates candidates by
    * equi-joining on shared character q-grams, then verifies candidates
    * with the exact distance.
    *
    * COMPLETE for the strings it is meant for, by the q-gram count
    * lemma: `d` edits destroy at most `q·d` of a string's `len − q + 1`
    * q-grams, so any pair within distance `d` with
    * `len ≥ q·(d + 1) + q − 1` still shares at least one q-gram and
    * survives blocking (q = 3, d = 2 ⇒ len ≥ 11). Blocking admits false
    * candidates freely — the exact `levenshtein` refines — so the result
    * equals the nested-loop join on such strings.
    *
    * Shape at 100 TB: per-side gram explode is narrow (distinct grams
    * per string, so ≤ len − q + 1 rows each); the candidate join is a
    * plain shuffle on the gram (skewed common grams hit AQE's skew
    * split; a stop-gram cut — drop the top-frequency grams from BOTH
    * sides symmetrically — trades recall for balance when needed); the
    * verify filter is codegen'd. Candidates scale with gram collisions,
    * not |L|×|R|.
    */
  def fuzzyJoinQgram(left: DataFrame, leftId: String, leftStr: String,
                     right: DataFrame, rightId: String, rightStr: String,
                     q: Int, maxDist: Int): DataFrame = {
    require(q >= 1 && maxDist >= 0, s"need q >= 1, maxDist >= 0; got q=$q maxDist=$maxDist")
    def grams(df: DataFrame, id: String, s: String) = df.select(
      col(id), col(s),
      explode(array_distinct(expr(
        s"transform(sequence(1, greatest(length($s) - ${q - 1}, 1)), " +
          s"i -> substring($s, i, $q))"))).as("__g"))
    val cand = grams(left, leftId, leftStr)
      .join(grams(right, rightId, rightStr), "__g")
      .select(col(leftId), col(leftStr), col(rightId), col(rightStr))
      .distinct()
    cand
      .withColumn("dist", levenshtein(col(leftStr), col(rightStr)))
      .filter(col("dist") <= maxDist)
  }
}
