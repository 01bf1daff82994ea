package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** X65: edit-distance similarity self-join — the fuzzy-key matcher a
  * catalog pipeline needs when the same item arrives under slightly
  * different descriptions (typos, truncations, OCR noise). The
  * reference's catalog is keyed on exact `codigo`s (processor.py's
  * drop_duplicates), so near-key reconciliation is beyond-reference;
  * at training-data scale the same operator is the URL/title/near-key
  * variant of the dedup family.
  *
  * Algorithm: PassJoin segment partitioning (Li, Deng, Wang & Feng,
  * PVLDB 5(3) 2011: pigeonhole over an even string partition), then a
  * BANDED `levenshtein` confirm:
  *
  *  1. every string of length L is cut into d+1 contiguous segments
  *     (the last L mod (d+1) of them one char longer). d edits cannot
  *     touch all d+1 segments, so for any pair within d edits at
  *     least one segment of either string survives VERBATIM in the
  *     other, shifted by at most d positions (the net indel balance
  *     left of it) — segment equality is a LOSSLESS candidate key;
  *  2. the probe side enumerates, per string t, every substring that
  *     could be such a surviving segment: partner lengths
  *     L' ∈ [len(t)−d, len(t)+d] that actually occur in the corpus
  *     (broadcast semi-join on the ≤|len domain| distinct lengths),
  *     segment index i ∈ [0, d], shift ∈ [−d, d] — ≤ (2d+1)²·(d+1)
  *     probe rows per string, each a bounds-checked substring;
  *  3. candidate pairs = ONE equi-join of the (d+1)·n segment rows
  *     with the probe rows on (partner length, segment index, segment
  *     text). Unlike any q-gram prefix scheme, the key carries
  *     ~(minLen div (d+1)) characters of position-pinned content, so
  *     flat-vocabulary and templated corpora cannot funnel the join
  *     through a handful of hot grams (the r9 100× probe measured the
  *     positional-q-gram predecessor at 14.2 BILLION enumerated pairs
  *     on 667k 30-char strings — Σ df² over 4-char keys — where the
  *     segment key enumerates output-proportional candidates);
  *  4. exact confirm: join texts back by id, keep
  *     `levenshtein(a, b, d)` ≥ 0 — the thresholded form runs the
  *     O(d·len) banded diagonal, not the O(len²) full matrix, and
  *     still returns the exact distance for every kept pair.
  *
  * Scale shape: the only joins are equi-joins on (length, index,
  * segment-text) keys and ids, plus one broadcast semi-join on the
  * tiny distinct-length domain; candidate volume is Σ over segment
  * keys of build·probe group products — output-proportional for any
  * corpus whose identical-substring groups are bounded. Text rides
  * only through the final bounded confirm join. No cross join, no
  * window at all.
  */
object FuzzyJoin {

  /** 1-based start of 0-based segment `i` under the PassJoin even
    * partition of a length-`len` string into `m` segments: the first
    * m − (len mod m) segments have length len div m, the rest one
    * more. SQL-spelled so both the build and probe sides share one
    * definition. */
  private def segStartSql(len: String, i: String, m: Int): String =
    s"$i * ($len div $m) + greatest(0, $i - ($m - $len % $m)) + 1"

  private def segLenSql(len: String, i: String, m: Int): String =
    s"($len div $m) + (case when $i >= $m - $len % $m then 1 else 0 end)"

  /** All pairs (id_a < id_b) within `maxDist` edits, with the distance.
    *
    * Strings shorter than `minLen` are dropped (mirrored by oracles);
    * minLen ≥ maxDist+1 keeps every segment nonempty, so the segment
    * signature is guaranteed non-trivial.
    *
    * @return (id_a, id_b, dist)
    */
  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
                       maxDist: Int, minLen: Int = 12): DataFrame = {
    require(maxDist >= 1, "editDistanceJoin needs maxDist >= 1")
    require(minLen >= maxDist + 1,
      s"minLen must be >= maxDist+1 so every PassJoin segment is " +
        s"nonempty; got minLen=$minLen maxDist=$maxDist")
    val k = maxDist
    val m = k + 1

    val s = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) >= minLen)
      .withColumn("len", length(col("s")))
      // Forked FIVE ways (segments, length domain, probes, both
      // payload re-attaches): materialize once so the caller's corpus
      // lineage — possibly an expensive construction — is computed
      // once, not five times (the q93/tokenRankScore fork discipline).
      .localCheckpoint(eager = false)

    // Build side: the d+1 segments of every string, keyed by the
    // string's OWN length (the partner-length coordinate of the key).
    val segs = s
      .select(col("id").as("aid"), col("s").as("sa"),
        col("len").as("plen"), explode(sequence(lit(0), lit(k))).as("i"))
      .select(col("aid"), col("plen"), col("i"),
        expr(s"substring(sa, ${segStartSql("plen", "i", m)}, " +
          s"${segLenSql("plen", "i", m)})").as("seg"))

    // Probe side: candidate partner lengths that EXIST in the corpus
    // (equi semi-join against the tiny distinct-length frame — never a
    // nested-loop band join), then segment index × shift fan-out with
    // substring bounds enforced before extraction.
    val lens = s.select(col("len").as("plen")).distinct()
    val probes = s
      .select(col("id").as("bid"), col("s").as("sb"), col("len").as("blen"),
        explode(sequence(col("len") - k, col("len") + k)).as("plen"))
      .join(broadcast(lens), Seq("plen"), "left_semi")
      .select(col("bid"), col("sb"), col("blen"), col("plen"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .select(col("bid"), col("sb"), col("blen"), col("plen"), col("i"),
        explode(sequence(lit(-k), lit(k))).as("sh"))
      .select(col("bid"), col("sb"), col("blen"), col("plen"), col("i"),
        (expr(segStartSql("plen", "i", m)) + col("sh")).as("st"),
        expr(segLenSql("plen", "i", m)).as("sl"))
      .filter(col("st") >= 1 && col("st") + col("sl") - 1 <= col("blen"))
      .select(col("bid"), col("plen"), col("i"),
        expr("substring(sb, st, sl)").as("seg"))

    val cand = segs.join(probes, Seq("plen", "i", "seg"))
      .filter(col("aid") =!= col("bid"))
      .select(least(col("aid"), col("bid")).as("id_a"),
        greatest(col("aid"), col("bid")).as("id_b"))
      .distinct()

    cand
      .join(s.select(col("id").as("id_a"), col("s").as("__sa")), Seq("id_a"))
      .join(s.select(col("id").as("id_b"), col("s").as("__sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
  }

  /** X94: sorted-neighborhood candidate pairs (Hernández & Stolfo
    * SIGMOD'95) — the third blocking strategy next to equality blocking
    * (X81) and signature joins (X65/PPJoin): sort the corpus by a
    * domain sort key and pair every record with its `winSize` nearest
    * neighbors in that order. Catches near-dups that share a PREFIX
    * region of the key but no exact block value — and its candidate
    * count is exactly ≤ n·winSize by construction, the hardest
    * guarantee of the three.
    *
    * The global rank is the classic sorted-neighborhood scaling trap —
    * a bare `Window.orderBy` funnels the corpus through one task. Here
    * it is [[Packing]]'s two-pass distributed prefix COUNT over the
    * (sortKey, id) struct order: range partition + per-partition
    * window + broadcast offsets, bounded driver state (plan-guarded —
    * no single-partition window). Pairing is then a block-banded
    * equi-join: rank-block b joins {b, b+1} with the 0 < gap ≤ winSize
    * residual — each row shuffles twice, output n·winSize.
    *
    * Ties in `sortKey` order deterministically by `idCol` (the struct
    * ordering), so the neighborhood — hence the result — is
    * layout-independent for any (sortKey, id)-unique input.
    *
    * @return (id_a, id_b, gap): gap = rank distance in [1, winSize]
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
                              sortKey: Column, winSize: Int): DataFrame = {
    require(winSize >= 1, s"winSize must be >= 1: $winSize")
    val keyed = df.select(
      struct(sortKey.as("k"), col(idCol).as("i")).as("__sk"),
      lit(1L).as("__one"))
    val ranked = Packing.runningTotalsMulti(keyed, "__sk", Seq("__one"))
      .select(col("__id").getField("i").as("id"),
        col("__one_cum").as("rnk"))
      .localCheckpoint(eager = false) // forked: both sides of the band join
    val b = ranked.select(col("id").as("id_b"), col("rnk").as("rb"),
      expr(s"rnk div ${winSize}L").as("__blk"))
    ranked
      .select(col("id").as("id_a"), col("rnk").as("ra"),
        explode(array(expr(s"rnk div ${winSize}L"),
          expr(s"rnk div ${winSize}L") + 1L)).as("__blk"))
      .join(b, Seq("__blk"))
      .filter(col("rb") > col("ra") && col("rb") <= col("ra") + winSize)
      .select(col("id_a"), col("id_b"), (col("rb") - col("ra")).as("gap"))
  }

  /** X219: blocked Jaro–Winkler matching — the census-linkage comparator
    * (Jaro JASA 1989; Winkler 1990) as a block-then-verify equi-join:
    * candidates pair ONLY within a caller-chosen block key (first
    * token, Soundex code, sorted-neighborhood window, …), then the
    * codegen'd integer-exact [[graft.functions.JaroWinklerExpr]] scores
    * each candidate and the threshold keeps the matches. Winkler's
    * prefix boost concentrates high scores on shared-prefix pairs, so
    * prefix-shaped blockers lose little recall while cutting the |D|²
    * comparison space to Σ|block|² — the standard production shape
    * (Fellegi–Sunter pipelines block first, always). Deduplicate /
    * aggregate the name frame BEFORE calling on corpus-scale input:
    * the verify stage is per candidate pair.
    *
    * @param names frame carrying `nameCol` (strings) and `blockCol`
    * @return (name_a < name_b, jw_ppm, lev) for pairs scoring >= minPpm
    */
  def jaroWinklerPairs(names: DataFrame, nameCol: String, blockCol: String,
                       minPpm: Long): DataFrame = {
    require(minPpm >= 1 && minPpm <= 1000000,
      s"minPpm must sit in [1, 1000000]: $minPpm")
    val base = names
      .select(col(blockCol).as("__blk"), col(nameCol).as("__name"))
      .filter(col("__name").isNotNull && col("__blk").isNotNull)
      .distinct()
      .localCheckpoint(eager = false) // forked: both sides of the block join
    base.select(col("__blk"), col("__name").as("name_a"))
      .join(base.select(col("__blk"), col("__name").as("name_b")), Seq("__blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw_ppm", expr("graft_jaro_winkler(name_a, name_b)"))
      .filter(col("jw_ppm") >= minPpm)
      .select(col("name_a"), col("name_b"), col("jw_ppm"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("lev"))
  }
}
