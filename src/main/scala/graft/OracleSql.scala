package graft

/** DuckDB-equivalent SQL for every oracle-checkable query in
  * [[SparkEntry.queries]]. Run by the driver against the same parquet tables.
  *
  * Conventions keeping the two engines hash-identical:
  *  - `events.ts` is nanosecond parquet; Spark truncates to micros on read, so
  *    every oracle use goes through `CAST(ts AS TIMESTAMP)` (DuckDB micros)
  *    and emits `epoch_ms(...)` BIGINT, matching Spark's `unix_millis`.
  *  - money math in DECIMAL(18,2), cast to DOUBLE at the end (exact both
  *    sides); averages written as SUM/COUNT (DuckDB's AVG is a double
  *    accumulator, Spark's is exact decimal — SUM/COUNT sidesteps both).
  *  - counts cast to BIGINT (Spark size()/length() are 32-bit, DuckDB's 64).
  *  - windows carry total deterministic orders; QUALIFY mirrors Spark's
  *    row_number()=1 filters; tie-break is always (ts DESC, value DESC).
  *  - similarity math: elementwise double products sequentially folded
  *    (list_dot_product over DOUBLE[] ≡ Spark aggregate over zip_with).
  *  - float dot products that feed a SUM over a group (e.g. dsir_weights)
  *    are quantized FIRST — round(…, 9) pinned as DECIMAL — so the group
  *    sum is exact and order-independent; the final round(…, 6) happens in
  *    DECIMAL space (`round` on DECIMAL is half-away-from-zero in both
  *    engines; a double-space round lets a 9-dp midpoint land on either
  *    side, and a DuckDB decimal CAST truncates — never use it to round).
  *  - decimal operand precisions are pinned to fit Spark's 38-digit cap:
  *    a long × DECIMAL(28,9) product overflows it and Spark silently drops
  *    the scale to 6 (cast the count to DECIMAL(12,0) and the ratio to
  *    DECIMAL(18,9) so both engines keep scale 9 exactly).
  */
object OracleSql {

  /** events with Spark-equivalent (micros) timestamps. */
  private val EV =
    "ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events)"

  private val NORM_TEXT =
    raw"""trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  private val TOKS_RAW =
    raw"""list_filter(string_split_regex(trim(text), '\s+'), t -> length(t) > 0)"""
  private val TOKS_LOWER =
    raw"""list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> length(t) > 0)"""

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  // ----------------------------------------------------------- sketch oracles
  // The sketches hash with md5 (Md5Hash64 ≡ DuckDB md5_number_lower) and
  // shingle by CHARACTER (≡ substr), so the FULL LSH pipelines — signatures,
  // band bucketing, candidate pairs, exact verify — are recomputed here
  // bit-for-bit. Scala `(x * y) & Long.MaxValue` ≡ HUGEINT `(x * y) % 2^63`.

  /** 2^63 — DuckDB parses it as HUGEINT/UBIGINT. */
  private val M63 = "9223372036854775808"

  /** Gaps-and-islands sessionization of events (break when diff > gap —
    * Spark merges touching sessions); shared by the batch and streaming
    * session queries. */
  private lazy val sessionStatsSql =
    s"""WITH $EV,
       |l AS (SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
       |         THEN 1 ELSE 0 END AS brk
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |s AS (SELECT user_id, ts, value,
       |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM l)
       |SELECT user_id,
       |  min(epoch_ms(ts)) AS session_start_ms,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       |  max(epoch_ms(ts)) AS last_ts_ms
       |FROM s GROUP BY user_id, sid""".stripMargin

  /** `base` + `q`: per-document quality score (TextFunctions.qualityScore's
    * declarative definition) as CTEs — `q(doc_id, quality)`. */
  private lazy val QUALITY_CTES =
    raw"""base AS (
         |  SELECT doc_id, text,
         |    CAST(len($TOKS_RAW) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter($TOKS_LOWER, t -> list_contains($EN, t))) AS BIGINT) AS n_hits
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    round(least(length(text) * 1.0 / 500.0, 1.0) * 0.25 +
         |      (CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) END) * 0.35 +
         |      least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_hits * 1.0 / n_tokens END) * 4.0, 1.0) * 0.2 +
         |      greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
         |        ELSE length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text) END) * 5.0) * 0.2,
         |      6) AS quality
         |  FROM base)""".stripMargin

  /** 63-bit md5 hash of a VARCHAR expression ≡ Md5Hash64.lowerMasked. */
  private def mh63(x: String): String =
    s"CAST(md5_number_lower($x) % $M63 AS BIGINT)"

  /** Unsigned literal for bit b of a 64-bit word. */
  private def bitLit(b: Int): String =
    if (b == 63) M63 else (1L << b).toString

  /** MinHash LSH near-dups, full-pipeline replica of Dedup.minhashNearDups
    * (shingleK=5, numHashes=64, bands=16×4, threshold=0.5). Note: docs with
    * fewer than 5 chars would be absent from `sigs` (Spark gives them an
    * all-MaxValue signature); testdata minimum normalized length is 44, so
    * the case is unreachable here. */
  private def minhashNearDupsSql: String = minhashNearDupsSql("TRUE")

  /** The same replica over a doc subset (`docWhere` on documents) — reused
    * by dedup_pr_eval's predicted-pair side.
    *
    * The multi-referenced CTEs here (and every consumer's wrapping `p`)
    * carry `MATERIALIZED` hints: DuckDB inlines CTEs by default, so a
    * pair table referenced twice re-executes the WHOLE 64-hash pipeline —
    * measured 92 s → 29 s on the closure queries at sf0.01. On top of
    * that, the permutations live in `up` (once per globally-DISTINCT
    * shingle; a per-doc min is invariant under duplicates), collapsing
    * each consumer to ~0.6 s and the full 251-query compare from round
    * 8's 712 s to ~23 s. The driver's compare runs in one budgeted pass;
    * six replays at 90+ s each is the difference between a recorded
    * correctness artifact and a timed-out empty one. Restructures only
    * change execution, never results (cell-exact hashes re-verified at
    * both SFs). */
  private def minhashNearDupsSql(docWhere: String): String = {
    val numHashes = 64
    val bands = 16
    val rpb = 4
    val minAgree = math.ceil((0.5 - 0.15) * numHashes).toInt // ≡ Dedup's filter
    // the 64 permuted values are computed ONCE per globally-distinct
    // shingle (`up`) and the per-doc signature is a plain BIGINT min over
    // them — a per-doc min is invariant under duplicate shingles, so this
    // is value-identical to permuting per occurrence while skipping the
    // HUGEINT arithmetic on every repeat (measured 25 s → 0.6 s at
    // sf0.01; the values all sit below 2^63, so the early BIGINT cast is
    // lossless)
    val permCols = (0 until numHashes).map { p =>
      val a = graft.functions.expressions.MinHashConstants.a(p)
      val b = graft.functions.expressions.MinHashConstants.b(p)
      s"CAST(((CAST($a AS HUGEINT) * h) % $M63 + $b) % $M63 AS BIGINT) AS h_s$p"
    }.mkString(",\n    ")
    val minCols = (0 until numHashes).map(p => s"min(h_s$p) AS s$p")
      .mkString(",\n    ")
    val sigList = (0 until numHashes).map(p => s"s$p").mkString("[", ", ", "]")
    val bandSelects = (0 until bands).map { b =>
      val bk = (0 until rpb).map(r => s"s${b * rpb + r}").mkString("[", ", ", "]")
      s"SELECT doc_id, $b AS b, $bk AS bk FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""WITH d AS MATERIALIZED (SELECT doc_id, $NORM_TEXT AS nt FROM documents
       |  WHERE $docWhere),
       |pos AS (SELECT doc_id, nt, unnest(generate_series(1, greatest(length(nt) - 4, 0))) AS i FROM d),
       |dg AS (SELECT DISTINCT doc_id, substr(nt, i, 5) AS g FROM pos),
       |ug AS MATERIALIZED (SELECT g, ${mh63("g")} AS h
       |  FROM (SELECT DISTINCT g FROM dg)),
       |up AS MATERIALIZED (SELECT g,
       |    $permCols
       |  FROM ug),
       |sigs AS (SELECT doc_id,
       |    $minCols
       |  FROM dg JOIN up USING (g) GROUP BY doc_id),
       |sigl AS MATERIALIZED (SELECT doc_id, $sigList AS sig FROM sigs),
       |banded0 AS (
       |  $bandSelects),
       |banded AS MATERIALIZED (SELECT * FROM banded0
       |  QUALIFY COUNT(*) OVER (PARTITION BY b, bk) <= 2000),
       |cand AS (SELECT DISTINCT x.doc_id AS idA, y.doc_id AS idB
       |  FROM banded x JOIN banded y ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |est AS (SELECT c.idA, c.idB FROM cand c
       |  JOIN sigl sa ON c.idA = sa.doc_id JOIN sigl sb ON c.idB = sb.doc_id
       |  WHERE list_sum(list_transform(generate_series(1, $numHashes),
       |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) >= $minAgree),
       |kg AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(length(nt) - 4, 0)), i -> substr(nt, i, 5))) AS ks FROM d),
       |j AS (SELECT e.idA, e.idB, len(list_intersect(ka.ks, kb.ks)) AS inter,
       |    len(ka.ks) AS na, len(kb.ks) AS nb
       |  FROM est e JOIN kg ka ON e.idA = ka.doc_id JOIN kg kb ON e.idB = kb.doc_id)
       |SELECT idA, idB, round(inter / (na + nb - inter), 6) AS jaccard
       |FROM j WHERE inter / (na + nb - inter) >= 0.5""".stripMargin
  }

  /** 64-bit SimHash per doc ≡ SimHash64: per bit, ±1 votes over
    * md5_number_lower of each raw whitespace token; bit set iff sum > 0.
    * Returns CTE text ending with `sims(doc_id, h UBIGINT)` (0 for docs
    * with no tokens, matching the Scala fold over an empty array). */
  private def simhashCtes: String = {
    val bitVotes = (0 until 64).map { b =>
      s"CASE WHEN sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${bitLit(b)} ELSE 0 END"
    }.mkString("\n    + ")
    s"""tok AS (SELECT doc_id, unnest($TOKS_RAW) AS t FROM documents),
       |th AS (SELECT doc_id, md5_number_lower(t) AS h FROM tok),
       |sv AS (SELECT doc_id,
       |    $bitVotes
       |  AS simsum FROM th GROUP BY doc_id),
       |sims AS (SELECT d0.doc_id, CAST(COALESCE(sv.simsum, 0) AS UBIGINT) AS h
       |  FROM documents d0 LEFT JOIN sv ON d0.doc_id = sv.doc_id)""".stripMargin
  }

  /** SimHash near-dups, full-pipeline replica of Dedup.simhashNearDups
    * (quarter-bucket candidates, Hamming ≤ 6 verify). */
  private def simhashNearDupsSql: String =
    s"""WITH $simhashCtes,
       |qk AS (SELECT doc_id, h, qi, CAST((h >> (qi * 16)) & 65535 AS BIGINT) AS qv
       |  FROM (SELECT doc_id, h, unnest([0, 1, 2, 3]) AS qi FROM sims)
       |  QUALIFY COUNT(*) OVER (PARTITION BY qi,
       |    CAST((h >> (qi * 16)) & 65535 AS BIGINT)) <= 2000),
       |cand AS (SELECT DISTINCT x.doc_id AS idA, y.doc_id AS idB, x.h AS ha, y.h AS hb
       |  FROM qk x JOIN qk y ON x.qi = y.qi AND x.qv = y.qv AND x.doc_id < y.doc_id)
       |SELECT idA, idB, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 6""".stripMargin

  /** Bounded simhash near-dups: the 6-choose-3 block-key construction
    * guarantees FULL recall at Hamming ≤ 3 and verifies exactly, so the
    * oracle is the plain all-pairs Hamming ≤ 3 predicate — stronger than
    * a banding replica (it would catch a broken combo emitter too). */
  private def simhashNearDupsBoundedSql: String =
    s"""WITH $simhashCtes
       |SELECT x.doc_id AS idA, y.doc_id AS idB,
       |  CAST(bit_count(xor(x.h, y.h)) AS BIGINT) AS hamming
       |FROM sims x JOIN sims y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.h, y.h)) <= 3""".stripMargin

  /** SimHash value (unsigned-decimal string) + winnowing fingerprint digest
    * (md5 of sorted comma-joined 63-bit window-min hashes; k=5, window=8). */
  private def simhashFingerprintSql: String =
    s"""WITH d AS (SELECT doc_id, $NORM_TEXT AS nt FROM documents),
       |$simhashCtes,
       |pos AS (SELECT doc_id, nt, greatest(length(nt) - 4, 0) AS m,
       |    unnest(generate_series(1, greatest(length(nt) - 4, 0))) AS i FROM d),
       |wh AS (SELECT doc_id, m, i, ${mh63("substr(nt, i, 5)")} AS h FROM pos),
       |wm AS (SELECT doc_id, m, i, min(h) OVER (PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mh FROM wh),
       |sel AS (SELECT DISTINCT doc_id, mh FROM wm WHERE i <= greatest(m - 8, 0) + 1),
       |dig AS (SELECT doc_id, md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY mh)) AS wd
       |  FROM sel GROUP BY doc_id)
       |SELECT s.doc_id, CAST(s.h AS VARCHAR) AS simhash,
       |  COALESCE(dig.wd, md5('')) AS winnow_digest
       |FROM sims s LEFT JOIN dig ON s.doc_id = dig.doc_id""".stripMargin

  /** Hyperplane-LSH cosine near-dups, full-pipeline replica of
    * Vectors.cosineNearDups (16 planes, signature-half buckets, cosine ≥ 0.4
    * verify). Plane components from md5("p|i") ≡ Vectors.planeComponent. */
  private def cosineNearDupsSql: String = {
    val comp = s"((${mh63("CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)")} % 2000001) - 1000000) / 1000000.0"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ep AS (SELECT vec_id, v, unnest(generate_series(0, 15)) AS p FROM e),
       |bits AS (SELECT vec_id, CASE WHEN list_dot_product(v,
       |    list_transform(generate_series(0, len(v) - 1), i -> $comp)) >= 0
       |  THEN (1 << p) ELSE 0 END AS bit FROM ep),
       |sigt AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS sig FROM bits GROUP BY vec_id),
       |sv AS (SELECT e.vec_id, e.v, sigt.sig FROM e JOIN sigt ON e.vec_id = sigt.vec_id),
       |banded0 AS (
       |  SELECT vec_id, v, 0 AS b, sig & 255 AS bv FROM sv
       |  UNION ALL SELECT vec_id, v, 1 AS b, sig >> 8 AS bv FROM sv),
       |banded AS (SELECT * FROM banded0
       |  QUALIFY COUNT(*) OVER (PARTITION BY b, bv) <= 2000),
       |cand AS (SELECT DISTINCT x.vec_id AS idA, y.vec_id AS idB, x.v AS va, y.v AS vb
       |  FROM banded x JOIN banded y ON x.b = y.b AND x.bv = y.bv AND x.vec_id < y.vec_id),
       |c2 AS (SELECT idA, idB, list_dot_product(va, vb) /
       |    (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) AS cosine
       |  FROM cand)
       |SELECT idA, idB, round(cosine, 6) AS cosine FROM c2 WHERE cosine >= 0.4""".stripMargin
  }

  /** pit_purchases replay (window-join reference shape) — shared by the
    * default-strategy query and the broadcast-strategy twin. */
  private def pitPurchasesSql: String =
      s"""WITH $EV,
         |lbl AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase'),
         |lkey AS (SELECT DISTINCT user_id, ts FROM lbl),
         |fc AS (SELECT user_id AS e, ts AS fts, value AS v FROM ev WHERE event_type = 'click'),
         |pc AS (
         |  SELECT l.user_id, l.ts, f.v FROM lkey l
         |  LEFT JOIN fc f ON l.user_id = f.e AND f.fts <= l.ts
         |  QUALIFY row_number() OVER (PARTITION BY l.user_id, l.ts ORDER BY f.fts DESC, f.v DESC) = 1),
         |fo AS (SELECT o_custkey AS e, o_orderdate AS fts, o_totalprice AS v FROM orders),
         |po AS (
         |  SELECT l.user_id, l.ts, f.v FROM lkey l
         |  LEFT JOIN fo f ON l.user_id = f.e AND f.fts <= l.ts
         |  QUALIFY row_number() OVER (PARTITION BY l.user_id, l.ts ORDER BY f.fts DESC, f.v DESC) = 1)
         |SELECT l.user_id, epoch_ms(l.ts) AS ts_ms, pc.v AS f_click, c.c_acctbal AS f_bal,
         |  po.v AS f_orders, l.value AS label
         |FROM lbl l
         |LEFT JOIN pc ON l.user_id = pc.user_id AND l.ts = pc.ts
         |LEFT JOIN customer c ON l.user_id = c.c_custkey
         |LEFT JOIN po ON l.user_id = po.user_id AND l.ts = po.ts""".stripMargin

  /** Perceptual image near-dup replay: aHash re-derived from the synthetic
    * pixel formula (PNG is lossless — the Spark side's REAL decode yields
    * exactly these integers), quarter banding with the 2000-per-band hot
    * cap, bit_count ≤ 4 verify. `pairFilter` restricts the reported pairs
    * (the incremental query keeps only batch-touching ones). */
  private def imageNearDupsSql(pairFilter: String): String =
    s"""WITH img AS (SELECT doc_id AS media_id, 8 + doc_id % 24 AS w,
       |    8 + (doc_id * 7) % 24 AS h
       |  FROM documents WHERE doc_id % 2 = 0),
       |px AS (SELECT media_id, w, h,
       |    unnest(generate_series(0, w * h - 1)) AS i
       |  FROM img),
       |pl AS (SELECT media_id, w, h, i % w AS x, i // w AS y FROM px),
       |lum AS (SELECT media_id,
       |    (299 * ((((x * 31 + y * 17 + media_id * 131) & 16777215) >> 16) & 255)
       |   + 587 * ((((x * 31 + y * 17 + media_id * 131) & 16777215) >> 8) & 255)
       |   + 114 * (((x * 31 + y * 17 + media_id * 131) & 16777215) & 255))
       |      // 1000 AS l,
       |    ((y * 8) // h) * 8 + ((x * 8) // w) AS p
       |  FROM pl),
       |cells AS (SELECT media_id, p, SUM(l) AS cs, COUNT(*) AS cc
       |  FROM lum GROUP BY 1, 2),
       |tots AS (SELECT media_id, SUM(cs) AS ts, SUM(cc) AS n
       |  FROM cells GROUP BY 1),
       |ah AS (SELECT c.media_id,
       |    CAST(SUM(CASE WHEN c.cs * t.n > t.ts * c.cc
       |      THEN (CAST(1 AS UBIGINT) << c.p) ELSE CAST(0 AS UBIGINT) END)
       |      AS UBIGINT) AS hsh
       |  FROM cells c JOIN tots t USING (media_id) GROUP BY c.media_id),
       |qk AS (SELECT media_id, hsh, qi,
       |    CAST((hsh >> (qi * 16)) & 65535 AS BIGINT) AS qv
       |  FROM (SELECT media_id, hsh, unnest([0, 1, 2, 3]) AS qi FROM ah)
       |  QUALIFY COUNT(*) OVER (PARTITION BY qi,
       |    CAST((hsh >> (qi * 16)) & 65535 AS BIGINT)) <= 2000),
       |cand AS (SELECT DISTINCT x.media_id AS idA, y.media_id AS idB,
       |    x.hsh AS ha, y.hsh AS hb
       |  FROM qk x JOIN qk y ON x.qi = y.qi AND x.qv = y.qv
       |    AND x.media_id < y.media_id)
       |SELECT idA, idB, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 4 AND $pairFilter""".stripMargin

  /** Spherical k-means replay ≡ [[graft.functions.Vectors.kmeansAssign]]:
    * md5-order init (cells 0..k-1), assignment by
    * `list_dot_product(v, pre-normalized centroid)` with (sim DESC, cell
    * DESC) tie rule, centroid update from order-independent integer sums
    * `floor(x·2²⁰+0.5)`, emptied cells keeping their centroid. Returns the
    * CTE chain ending at `a$iters` (vec_id, v, cell). */
  /** k-means replay CTEs ≡ [[graft.functions.Vectors.kmeansAssign]].
    * `p` prefixes every CTE name (so several independent runs — e.g. the
    * PQ subspace codebooks — can coexist in one WITH), `vecExpr` is the
    * per-row vector (a list_slice for PQ subspaces), `seed` matches the
    * Spark side's init-hash seed. Final assignment CTE: `${p}a$iters`. */
  private def kmeansCtes(k: Int, iters: Int, p: String = "",
                         vecExpr: String = "embedding",
                         seed: String = "km",
                         where: String = "TRUE"): String =
    kmeansCtesK(k.toString, iters, p, vecExpr, seed, where)

  /** The √n nlist rule as SQL ≡ [[graft.functions.Vectors.nlistForCorpus]]
    * (ROUND half-away-from-zero matches Scala's math.round on positives;
    * the [1, 4096] clamp is LEAST/GREATEST) — lets the knn_graph* oracles
    * replay the AUTO codebook size at any SF instead of a pinned literal. */
  private def sqrtNlistSql(where: String = "TRUE"): String =
    "(SELECT CAST(LEAST(4096, GREATEST(1, ROUND(SQRT(COUNT(*)), 0))) " +
      s"AS BIGINT) FROM embeddings WHERE $where)"

  /** [[kmeansCtes]] with the codebook size as a SQL EXPRESSION (a scalar
    * subquery for the √n rule); the Int overload above is the fixed-k
    * form every non-auto replay keeps. */
  private def kmeansCtesK(kSql: String, iters: Int, p: String = "",
                          vecExpr: String = "embedding",
                          seed: String = "km",
                          where: String = "TRUE"): String = {
    val initOrd =
      s"substr(md5(CAST(vec_id AS VARCHAR) || '|$seed'), 1, 16), vec_id"
    def assignCte(r: Int): String =
      s"""${p}a$r AS MATERIALIZED (SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      list_dot_product(CAST(e.v AS DOUBLE[]), list_transform(c.cv,
         |        y -> y / sqrt(list_dot_product(c.cv, c.cv)))) AS sim
         |    FROM ${p}e e CROSS JOIN ${p}c$r c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, cell DESC) = 1)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""${p}s$r AS MATERIALIZED (SELECT cell, i - 1 AS pos,
         |    SUM(CAST(floor(CAST(v[i] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS sx,
         |    COUNT(*) AS n
         |  FROM (SELECT cell, v, unnest(generate_series(1, len(v))) AS i
         |        FROM ${p}a${r - 1})
         |  GROUP BY 1, 2),
         |${p}u$r AS MATERIALIZED (SELECT cell, list(CAST(sx AS DOUBLE) / n / 1048576.0 ORDER BY pos) AS cv
         |  FROM ${p}s$r GROUP BY cell),
         |${p}c$r AS MATERIALIZED (SELECT p.cell, COALESCE(x.cv, p.cv) AS cv
         |  FROM ${p}c${r - 1} p LEFT JOIN ${p}u$r x USING (cell)),
         |${assignCte(r)}""".stripMargin
    }.mkString(",\n")
    s"""${p}e AS MATERIALIZED (SELECT vec_id, $vecExpr AS v
       |  FROM embeddings WHERE $where),
       |${p}c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY $initOrd) - 1 AS cell,
       |    CAST(v AS DOUBLE[]) AS cv
       |  FROM ${p}e QUALIFY row_number() OVER (ORDER BY $initOrd) <= $kSql),
       |${assignCte(0)},
       |$rounds""".stripMargin
  }

  /** The knn_graph_pq replay, parameterized on the RERANK payload: exact
    * float cosine, or — `int8` — cosine over the floor(x/s + 0.5) integer
    * vectors (the engine's tinyint rerank; per-vector scales cancel in
    * cosine, so only the rounding differs). Topology (√n IVF, 4×16 PQ
    * codebooks, SDC shortlist of 20) is shared verbatim. */
  private def knnGraphPqOracle(int8: Boolean): String = {
    val pq = (0 until 4).map { s =>
      kmeansCtes(8, 1, p = s"q$s",
        vecExpr = s"embedding[${s * 16 + 1}:${s * 16 + 16}]",
        seed = s"pq$s")
    }.mkString(",\n")
    val codeJoins = (0 until 4).map { s =>
      s"""JOIN q${s}a1 qa$s ON qa$s.vec_id = c.qid
         |  JOIN q${s}c1 qc$s ON qc$s.cell = qa$s.cell
         |  JOIN q${s}a1 na$s ON na$s.vec_id = c.nid
         |  JOIN q${s}c1 nc$s ON nc$s.cell = na$s.cell""".stripMargin
    }.mkString("\n  ")
    val sdcSum = (0 until 4)
      .map(s => s"list_dot_product(qc$s.cv, nc$s.cv)").mkString(" + ")
    // rerank source: raw floats, or the quantized integer twin
    val rerankSrc =
      if (!int8) "e"
      else
        """(SELECT vec_id,
          |    CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
          |         ELSE list_transform(v, x ->
          |           CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS BIGINT)) END AS v
          |  FROM (SELECT vec_id, v,
          |      list_max(list_transform(v, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
          |    FROM e))""".stripMargin
    s"""WITH ${kmeansCtesK(sqrtNlistSql(), 1)},
       |$pq,
       |cn AS (SELECT cell, list_transform(cv,
       |    y -> y / sqrt(list_dot_product(cv, cv))) AS cvn FROM c1),
       |sims AS MATERIALIZED (SELECT f.vec_id, f.v, c.cell,
       |    list_dot_product(CAST(f.v AS DOUBLE[]), c.cvn) AS sim
       |  FROM e f CROSS JOIN cn c),
       |asg AS (SELECT vec_id, cell FROM sims
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, cell DESC) = 1),
       |probe AS (SELECT vec_id, cell FROM sims
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, cell DESC) <= 2),
       |cand AS MATERIALIZED (SELECT p.vec_id AS qid, a.vec_id AS nid
       |  FROM probe p JOIN asg a ON p.cell = a.cell AND a.vec_id <> p.vec_id),
       |sc AS MATERIALIZED (SELECT c.qid, c.nid, round($sdcSum, 6) AS sdc
       |  FROM cand c
       |  $codeJoins),
       |short AS (SELECT qid, nid FROM sc
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY sdc DESC, nid) <= 20),
       |rv AS MATERIALIZED (SELECT * FROM $rerankSrc),
       |rr AS (SELECT s.qid AS query_id, s.nid AS neighbor_id,
       |    round(list_dot_product(CAST(q.v AS DOUBLE[]), CAST(n.v AS DOUBLE[])) /
       |      (sqrt(list_dot_product(CAST(q.v AS DOUBLE[]), CAST(q.v AS DOUBLE[]))) *
       |       sqrt(list_dot_product(CAST(n.v AS DOUBLE[]), CAST(n.v AS DOUBLE[])))), 6) AS cosine
       |  FROM short s JOIN rv q ON q.vec_id = s.qid JOIN rv n ON n.vec_id = s.nid)
       |SELECT query_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |FROM rr QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY cosine DESC, neighbor_id) <= 5""".stripMargin
  }

  /** Linear-classifier training replay ≡
    * [[graft.functions.Classifier.trainLinearScores]]: md5-bucketed token
    * counts + intercept in a fixed-order vector, per-round
    * `list_dot_product` prediction, gradient summed as
    * `floor(err·x·2²⁰ + 0.5)` BIGINTs (order-independent), update
    * `w − lr·((Σ/2²⁰)/n)` — every double op in the same sequence as the
    * Spark side, so the MODEL matches bit-for-bit, not just the scores. */
  /** One BM25 ranking as a CTE chain (base/stats/scored/top/rk + suffix)
    * with explicit k1 / (1−b) / b literals — the scorer expression is the
    * bm25_topk replay verbatim, so two parameterizations can ride in one
    * query (rank_stability). `rk$sfx` emits (doc_id, r$sfx). */
  private def bm25RankCtes(sfx: String, k1: String, oneMinusB: String,
                           b: String, k: Int): String = {
    val terms = Seq("join", "vector", "stream")
    val tfs = terms.zipWithIndex.map { case (tm, i) =>
      s"CAST(len(list_filter($TOKS_LOWER, t -> t = '$tm')) AS BIGINT) AS tf$i"
    }.mkString(",\n|    ")
    val dfs = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n|    ")
    val contribs = terms.indices.map { i =>
      s"""(ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) *
         |     (CAST(tf$i AS DOUBLE) * ($k1 + 1.0)) /
         |     (CAST(tf$i AS DOUBLE) +
         |      $k1 * ($oneMinusB + $b * (CAST(dl AS DOUBLE) / avgdl))))"""
        .stripMargin
    }.mkString(" +\n|  ")
    val anyHit = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""base$sfx AS (SELECT doc_id,
       |    CAST(len($TOKS_LOWER) AS BIGINT) AS dl,
       |    $tfs
       |  FROM documents),
       |stats$sfx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(dl) AS BIGINT) AS sumdl,
       |    $dfs
       |  FROM base$sfx),
       |scored$sfx AS (SELECT doc_id, round($contribs, 6) AS bm25
       |  FROM (SELECT bb.*, s.*, CAST(s.sumdl AS DOUBLE) / s.n AS avgdl
       |        FROM base$sfx bb CROSS JOIN stats$sfx s)
       |  WHERE $anyHit),
       |top$sfx AS (SELECT doc_id, bm25 FROM scored$sfx
       |  QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id) <= $k),
       |rk$sfx AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r$sfx
       |  FROM top$sfx)""".stripMargin
  }

  /** Platt-scaling replay: every GD round's quantized gradient sums and
    * (a, b) updates as a generated CTE chain ≡
    * [[graft.functions.Classifier.plattScale]]. MATERIALIZED pins keep the
    * doubly-referenced round chain from exponential inlining. */
  private def plattSql(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""g$r AS MATERIALIZED (SELECT
         |    SUM(CAST(floor((1.0 / (1.0 + exp(-(r.a * base.s + r.b)))
         |      - base.y) * base.s * 1048576.0 + 0.5) AS BIGINT)) AS ga,
         |    SUM(CAST(floor((1.0 / (1.0 + exp(-(r.a * base.s + r.b)))
         |      - base.y) * 1048576.0 + 0.5) AS BIGINT)) AS gb
         |  FROM base, r${r - 1} r),
         |r$r AS MATERIALIZED (SELECT
         |    r.a - 0.5 * ((CAST(g.ga AS DOUBLE) / 1048576.0) / n.n) AS a,
         |    r.b - 0.5 * ((CAST(g.gb AS DOUBLE) / 1048576.0) / n.n) AS b
         |  FROM r${r - 1} r, g$r g, n)""".stripMargin
    }.mkString(",\n")
    s"""$EV,
       |base AS MATERIALIZED (SELECT round(value, 2) / 1000 AS s,
       |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
       |  FROM ev),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base),
       |r0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b),
       |$rounds""".stripMargin
  }

  private def classifierSql(dim: Int, iters: Int, lrInv: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""p$r AS (SELECT x.doc_id, list_dot_product(x.xv, w.w) AS pred
         |  FROM x CROSS JOIN w${r - 1} w),
         |e$r AS (SELECT p.doc_id, p.pred - l.y AS err
         |  FROM p$r p JOIN lab l USING (doc_id)),
         |g$r AS (SELECT t.j,
         |    SUM(CAST(floor(e.err * t.c * 1048576.0 + 0.5) AS BIGINT)) AS sx
         |  FROM xall t JOIN e$r e USING (doc_id) GROUP BY t.j),
         |w$r AS (SELECT list(w.w[g.j + 1] -
         |      (1.0 / $lrInv.0) * ((CAST(g.sx AS DOUBLE) / 1048576.0) / n.n)
         |      ORDER BY g.j) AS w
         |  FROM g$r g CROSS JOIN w${r - 1} w CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (SELECT doc_id, unnest($TOKS_LOWER) AS token FROM documents),
       |cnt AS (SELECT doc_id, CAST(${mh63("token")} % $dim AS INT) AS j,
       |    COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |xs AS (SELECT d.doc_id, g.j, CAST(COALESCE(c.c, 0) AS DOUBLE) AS c
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${dim - 1})) AS j) g
       |  LEFT JOIN cnt c ON d.doc_id = c.doc_id AND g.j = c.j),
       |xall AS (SELECT doc_id, j, c FROM xs
       |  UNION ALL SELECT doc_id, $dim AS j, 1.0 FROM documents),
       |x AS (SELECT doc_id, list(c ORDER BY j) || [1.0] AS xv
       |  FROM xs GROUP BY doc_id),
       |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       |w0 AS (SELECT list_transform(generate_series(0, $dim), i -> 0.0) AS w),
       |$rounds""".stripMargin
  }

  /** BPE training replay: v rounds of (pair-count, argmax, merge) as a
    * generated CTE chain — ≡ [[graft.functions.BpeTrain.train]]. Words are
    * `(a)(b)(c)` wrapped-symbol strings so `replace` applies merges
    * left-to-right without adjacent sites sharing characters. */
  /** The training CTE chain alone (tok, wf, w0, p/b/w per round) — shared
    * by the bpe_train replay and the bpe_encode merge-map replay. */
  private def bpeTrainCtes(v: Int): String = {
    val rounds = (1 to v).map { r =>
      s"""p$r AS MATERIALIZED (SELECT sy[i] AS lhs, sy[i + 1] AS rhs, SUM(freq) AS cnt
         |  FROM (SELECT sy, freq, unnest(generate_series(1, len(sy) - 1)) AS i
         |        FROM (SELECT string_split(substr(w, 2, length(w) - 2), ')(') AS sy,
         |                     freq FROM w${r - 1}))
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT lhs, rhs, CAST(cnt AS BIGINT) AS cnt FROM p$r
         |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |w$r AS MATERIALIZED (SELECT replace(w, '(' || lhs || ')(' || rhs || ')',
         |    '(' || lhs || rhs || ')') AS w, freq
         |  FROM w${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |wf AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok
       |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT array_to_string(list_transform(generate_series(1, length(word)),
       |    i -> '(' || substr(word, i, 1) || ')'), '') AS w, freq FROM wf),
       |$rounds""".stripMargin
  }

  private def bpeTrainSql(v: Int): String = {
    val sel = (1 to v).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, lhs, rhs, cnt AS pair_count FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeTrainCtes(v)}
       |$sel""".stripMargin
  }

  /** Batched BPE training replay ≡ BpeTrain.trainBatched: per round, the
    * top-`batch` pairs in (cnt desc, lhs, rhs) order feed a RECURSIVE
    * greedy accept (both symbols unseen among earlier-accepted pairs of
    * the round — carried as a VARCHAR[] accumulator), then a second
    * recursive CTE applies the accepted merges to the word table one
    * acceptance-rank at a time (disjoint symbols ⇒ the order is
    * immaterial, pinned anyway). Global merge_rank = row_number over
    * (round, acceptance order). Needs WITH RECURSIVE. */
  private def bpeTrainBatchedSql(rounds: Int, batch: Int): String = {
    val perRound = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT sy[i] AS lhs, sy[i + 1] AS rhs, SUM(freq) AS cnt
         |  FROM (SELECT sy, freq, unnest(generate_series(1, len(sy) - 1)) AS i
         |        FROM (SELECT string_split(substr(w, 2, length(w) - 2), ')(') AS sy,
         |                     freq FROM w${r - 1}))
         |  GROUP BY 1, 2),
         |t$r AS MATERIALIZED (SELECT lhs, rhs, CAST(cnt AS BIGINT) AS cnt,
         |    row_number() OVER (ORDER BY cnt DESC, lhs, rhs) AS rk
         |  FROM p$r ORDER BY cnt DESC, lhs, rhs LIMIT $batch),
         |a$r AS (
         |  SELECT 0 AS rk, CAST([] AS VARCHAR[]) AS used,
         |    CAST(NULL AS VARCHAR) AS lhs, CAST(NULL AS VARCHAR) AS rhs,
         |    CAST(NULL AS BIGINT) AS cnt, false AS take
         |  UNION ALL
         |  SELECT t.rk,
         |    CASE WHEN list_contains(a.used, t.lhs) OR list_contains(a.used, t.rhs)
         |      THEN a.used ELSE list_concat(a.used, [t.lhs, t.rhs]) END,
         |    t.lhs, t.rhs, t.cnt,
         |    NOT (list_contains(a.used, t.lhs) OR list_contains(a.used, t.rhs))
         |  FROM a$r a JOIN t$r t ON t.rk = a.rk + 1),
         |acc$r AS MATERIALIZED (SELECT row_number() OVER (ORDER BY rk) AS j,
         |    lhs, rhs, cnt FROM a$r WHERE take),
         |wr$r AS (
         |  SELECT w, freq, 0 AS j FROM w${r - 1}
         |  UNION ALL
         |  SELECT replace(x.w, '(' || a.lhs || ')(' || a.rhs || ')',
         |      '(' || a.lhs || a.rhs || ')') AS w, x.freq, x.j + 1
         |  FROM wr$r x JOIN acc$r a ON a.j = x.j + 1),
         |w$r AS MATERIALIZED (SELECT w, freq FROM wr$r
         |  WHERE j = (SELECT COALESCE(MAX(j), 0) FROM acc$r))""".stripMargin
    }.mkString(",\n")
    val unionAcc = (1 to rounds).map(r =>
      s"SELECT $r AS rnd, j, lhs, rhs, cnt FROM acc$r").mkString("\nUNION ALL ")
    s"""WITH RECURSIVE
       |tok AS (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |wf AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok
       |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT array_to_string(list_transform(generate_series(1, length(word)),
       |    i -> '(' || substr(word, i, 1) || ')'), '') AS w, freq FROM wf),
       |$perRound,
       |all_acc AS ($unionAcc)
       |SELECT row_number() OVER (ORDER BY rnd, j) AS merge_rank,
       |  lhs, rhs, cnt AS pair_count
       |FROM all_acc""".stripMargin
  }

  /** bpe_encode replay: the same training rounds rebuild the merge table,
    * then a word → final-segmentation map (m0..mV) applies them in rank
    * order and every document re-aggregates its words in order. */
  private def bpeEncodeSql(v: Int): String = {
    val maps = (1 to v).map { r =>
      s"""m$r AS MATERIALIZED (SELECT word, replace(w, '(' || lhs || ')(' || rhs || ')',
         |    '(' || lhs || rhs || ')') AS w
         |  FROM m${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeTrainCtes(v)},
       |dwx AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
       |  FROM (SELECT doc_id, $TOKS_LOWER AS toks FROM documents)),
       |dw AS (SELECT doc_id, i, toks[i] AS word FROM dwx),
       |uw AS (SELECT DISTINCT word FROM dw),
       |m0 AS MATERIALIZED (SELECT word,
       |    CASE WHEN regexp_matches(word, '^[a-z]+$$')
       |      THEN array_to_string(list_transform(generate_series(1, length(word)),
       |        j -> '(' || substr(word, j, 1) || ')'), '')
       |      ELSE '(' || word || ')' END AS w
       |  FROM uw),
       |$maps,
       |seg AS (SELECT dw.doc_id, dw.i, m.w FROM dw JOIN m$v m ON dw.word = m.word)
       |SELECT doc_id,
       |  CAST(SUM((length(w) - length(replace(w, ')(', ''))) // 2 + 1) AS BIGINT)
       |    AS n_bpe_tokens,
       |  md5(string_agg(w, ' ' ORDER BY i)) AS seg_digest
       |FROM seg GROUP BY doc_id""".stripMargin
  }

  private val EN = sqlList(graft.functions.TextFunctions.EnglishStopwords)
  private val DE = sqlList(graft.functions.TextFunctions.GermanStopwords)
  private val ES = sqlList(graft.functions.TextFunctions.SpanishStopwords)
  private val FR = sqlList(graft.functions.TextFunctions.FrenchStopwords)

  /** Per-doc BPE subword counts ≡ [[graft.functions.expressions.BpeCount]]:
    * greedy lowest-rank/leftmost-occurrence merges replayed as a recursive
    * CTE. Symbols are chr(31)-separated (corpus has no control chars;
    * BpeVocab symbols are [a-z]+, so both the separator and the merge pair
    * are regex-literal); non-global `regexp_replace` applies exactly ONE
    * leftmost occurrence per step, matching the Scala loop; symbol count
    * strictly decreases, so `min(len)` per word is the fixed point. The
    * merge VALUES come from BpeVocab.sqlValues — one source of truth.
    * Requires `WITH RECURSIVE` at the top of the enclosing query. */
  private def bpeDocCtes: String = {
    val values = graft.functions.expressions.BpeVocab.sqlValues
    raw"""bpe_merges(rank, a, b) AS (SELECT * FROM (VALUES $values)),
         |bpe_w AS (SELECT doc_id, unnest($TOKS_LOWER) AS word FROM documents),
         |bpe_dw AS (SELECT DISTINCT word FROM bpe_w),
         |bpe_init AS (SELECT word, chr(31) || array_to_string(list_transform(
         |    generate_series(1, length(word)), i -> substr(word, i, 1)), chr(31)) || chr(31) AS s
         |  FROM bpe_dw),
         |bpe_st AS (
         |  SELECT word, s FROM bpe_init
         |  UNION ALL
         |  SELECT bpe_st.word, regexp_replace(bpe_st.s,
         |      chr(31)||m.a||chr(31)||m.b||chr(31), chr(31)||m.a||m.b||chr(31))
         |  FROM bpe_st JOIN bpe_merges m ON m.rank = (
         |    SELECT min(m2.rank) FROM bpe_merges m2
         |    WHERE contains(bpe_st.s, chr(31)||m2.a||chr(31)||m2.b||chr(31)))),
         |bpe_wc AS (SELECT word, min(len(string_split(s, chr(31))) - 2) AS n
         |  FROM bpe_st GROUP BY word),
         |bpe_doc AS (SELECT w.doc_id, CAST(SUM(c.n) AS BIGINT) AS n_subwords
         |  FROM bpe_w w JOIN bpe_wc c ON w.word = c.word GROUP BY w.doc_id)""".stripMargin
  }

  private val base: Map[String, String] = Map(

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // TPC-H Q5 shape over the full snowflake
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  COUNT(*) AS n_lineitems
        |FROM customer c
        |JOIN orders o   ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |              AND c.c_nationkey = s.s_nationkey
        |JOIN nation n   ON s.s_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,

    "q3_chained_sql" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_rollup" ->
      """SELECT n_name, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY ROLLUP (n_name, o_orderpriority)""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
        |FROM orders""".stripMargin,

    "q_clicks_no_purchase" ->
      s"""WITH $EV
         |SELECT user_id, CAST(ts AS DATE) AS day FROM ev WHERE event_type = 'click'
         |EXCEPT
         |SELECT user_id, CAST(ts AS DATE) AS day FROM ev WHERE event_type = 'purchase'""".stripMargin,

    "q_top_per_segment" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |QUALIFY row_number() OVER (PARTITION BY c_mktsegment
        |  ORDER BY o_totalprice DESC, o_orderkey) <= 3""".stripMargin,

    "q_exists_semi" ->
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin,

    // LATERAL top-2 per customer: replayed as a rank window (same rows;
    // DuckDB's LATERAL would also work, the window form is tie-pinned)
    "q_lateral_topk" ->
      """SELECT c_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
        |    row_number() OVER (PARTITION BY c.c_custkey
        |      ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
        |WHERE rn <= 2""".stripMargin,

    // PIVOT replayed as conditional aggregation (count over an empty set
    // is 0 in both engines' pivot semantics)
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS st_open,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS st_filled,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS st_partial
        |FROM orders GROUP BY 1""".stripMargin,

    "q_except_intersect" ->
      """SELECT 'only_small' AS cls, c FROM (
        |  SELECT o_custkey AS c FROM orders
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
        |UNION ALL
        |SELECT 'both' AS cls, c FROM (
        |  SELECT o_custkey AS c FROM orders WHERE o_totalprice > 200000
        |  INTERSECT
        |  SELECT o_custkey FROM orders
        |  WHERE o_totalprice <= 200000)""".stripMargin,

    "feat_latest_ts" ->
      s"""WITH $EV
         |SELECT user_id AS entity, value, epoch_ms(ts) AS ts_ms FROM ev
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1""".stripMargin,

    "feat_latest_no_ts" ->
      """SELECT c_custkey AS entity, c_acctbal AS value, CAST(0 AS BIGINT) AS ts_ms
        |FROM customer""".stripMargin,

    "chunked_export" ->
      s"""WITH $EV,
         |mat AS (
         |  SELECT user_id AS entity, value, ts FROM ev
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1),
         |numbered AS (
         |  SELECT entity, value, ts, row_number() OVER (ORDER BY entity) AS row_number FROM mat)
         |SELECT entity, value, epoch_ms(ts) AS ts_ms, CAST(row_number AS BIGINT) AS row_number,
         |  ascii(substr(md5(CAST(entity AS VARCHAR)), 1, 1)) AS chunk_id
         |FROM numbered WHERE row_number > 0 AND row_number <= 100""".stripMargin,

    "pit_purchases" -> pitPurchasesSql,

    // identical result through the zero-exchange broadcast as-of strategy
    "pit_broadcast" -> pitPurchasesSql,

    // feature TTLs: the as-of pick is unchanged; the picked value is masked
    // when its ts is older than the TTL (mask-after-pick ≡ filter-then-pick
    // since older rows are older still)
    "pit_max_age" ->
      s"""WITH $EV,
         |lbl AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase'),
         |lkey AS (SELECT DISTINCT user_id, ts FROM lbl),
         |fc AS (SELECT user_id AS e, ts AS fts, value AS v FROM ev WHERE event_type = 'click'),
         |pc AS (
         |  SELECT l.user_id, l.ts, f.v, f.fts FROM lkey l
         |  LEFT JOIN fc f ON l.user_id = f.e AND f.fts <= l.ts
         |  QUALIFY row_number() OVER (PARTITION BY l.user_id, l.ts ORDER BY f.fts DESC, f.v DESC) = 1),
         |fo AS (SELECT o_custkey AS e, o_orderdate AS fts, o_totalprice AS v FROM orders),
         |po AS (
         |  SELECT l.user_id, l.ts, f.v, f.fts FROM lkey l
         |  LEFT JOIN fo f ON l.user_id = f.e AND f.fts <= l.ts
         |  QUALIFY row_number() OVER (PARTITION BY l.user_id, l.ts ORDER BY f.fts DESC, f.v DESC) = 1)
         |SELECT l.user_id, epoch_ms(l.ts) AS ts_ms,
         |  CASE WHEN pc.fts >= l.ts - INTERVAL 259200 SECOND THEN pc.v END AS f_click,
         |  CASE WHEN po.fts >= l.ts - INTERVAL 788940000 SECOND THEN po.v END AS f_orders,
         |  l.value AS label
         |FROM lbl l
         |LEFT JOIN pc ON l.user_id = pc.user_id AND l.ts = pc.ts
         |LEFT JOIN po ON l.user_id = po.user_id AND l.ts = po.ts""".stripMargin,

    "pit_no_label_ts" ->
      s"""WITH $EV,
         |fe AS (SELECT user_id, value FROM ev
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1),
         |fo AS (SELECT o_custkey, o_totalprice FROM orders
         |  QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_totalprice DESC) = 1)
         |SELECT c.c_custkey, fe.value AS f_ev, fo.o_totalprice AS f_orders, c.c_acctbal AS label
         |FROM customer c
         |LEFT JOIN fe ON c.c_custkey = fe.user_id
         |LEFT JOIN fo ON c.c_custkey = fo.o_custkey""".stripMargin,

    "pit_lag" ->
      s"""WITH $EV,
         |lbl AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase'),
         |lkey AS (SELECT DISTINCT user_id, ts FROM lbl),
         |fc AS (SELECT user_id AS e, ts AS fts, value AS v FROM ev WHERE event_type = 'click'),
         |pc AS (
         |  SELECT l.user_id, l.ts, f.v FROM lkey l
         |  LEFT JOIN fc f ON l.user_id = f.e AND f.fts <= l.ts
         |  QUALIFY row_number() OVER (PARTITION BY l.user_id, l.ts ORDER BY f.fts DESC, f.v DESC) = 1),
         |pl AS (
         |  SELECT l.user_id, l.ts, f.v FROM lkey l
         |  LEFT JOIN fc f ON l.user_id = f.e AND f.fts + INTERVAL 3600 SECOND <= l.ts
         |  QUALIFY row_number() OVER (PARTITION BY l.user_id, l.ts ORDER BY f.fts DESC, f.v DESC) = 1)
         |SELECT l.user_id, epoch_ms(l.ts) AS ts_ms, pc.v AS f_click, pl.v AS f_click_lag1h,
         |  l.value AS label
         |FROM lbl l
         |LEFT JOIN pc ON l.user_id = pc.user_id AND l.ts = pc.ts
         |LEFT JOIN pl ON l.user_id = pl.user_id AND l.ts = pl.ts""".stripMargin,

    "pit_multi_entity" ->
      """SELECT l.l_suppkey, l.l_partkey, epoch_ms(l.l_shipdate) AS ts_ms,
        |  s.s_acctbal AS f_supp_bal, p.p_retailprice AS f_part_price,
        |  l.l_extendedprice AS label
        |FROM lineitem l
        |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |LEFT JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin,

    "batch_features" ->
      s"""WITH $EV,
         |a AS (SELECT user_id AS entity, value AS f_click FROM ev WHERE event_type = 'click'
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1),
         |b AS (SELECT c_custkey AS entity, c_acctbal AS f_bal FROM customer),
         |c AS (SELECT o_custkey AS entity, o_totalprice AS f_orders FROM orders
         |  QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_totalprice DESC) = 1),
         |ab AS (SELECT COALESCE(a.entity, b.entity) AS entity, f_click, f_bal
         |  FROM a FULL OUTER JOIN b ON a.entity = b.entity)
         |SELECT COALESCE(ab.entity, c.entity) AS entity, f_click, f_bal, f_orders
         |FROM ab FULL OUTER JOIN c ON ab.entity = c.entity""".stripMargin,

    "merge_upsert" ->
      s"""WITH $EV,
         |snap AS (
         |  SELECT user_id AS entity, value, ts FROM ev WHERE event_id < 500
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1),
         |upd AS (SELECT user_id AS entity, value, ts FROM ev WHERE event_id >= 500),
         |unioned AS (SELECT * FROM snap UNION ALL SELECT * FROM upd)
         |SELECT entity, value, epoch_ms(ts) AS ts_ms FROM unioned
         |QUALIFY row_number() OVER (PARTITION BY entity ORDER BY ts DESC, value DESC) = 1""".stripMargin,

    "train_test_split" ->
      """SELECT event_id, user_id, value,
        |  CASE WHEN substr(md5(concat_ws('|', CAST(event_id AS VARCHAR), '42')), 1, 8) < '40000000'
        |       THEN 1 ELSE 0 END AS is_test
        |FROM events""".stripMargin,

    // leakage-safe split: the dedup_clusters closure replayed, singletons
    // fall back to their own id, then the SAME md5 split rule keyed on the
    // cluster id — the whole pipeline end-to-end in SQL
    "split_leakage_safe" ->
      s"""WITH RECURSIVE
         |p AS MATERIALIZED (SELECT idA, idB FROM ($minhashNearDupsSql)),
         |e AS (SELECT idA AS s, idB AS d FROM p
         |      UNION SELECT idB, idA FROM p),
         |n AS (SELECT DISTINCT s AS id FROM e),
         |reach(a, b) AS (
         |  SELECT id, id FROM n
         |  UNION
         |  SELECT r.a, e.d FROM reach r JOIN e ON r.b = e.s),
         |cl AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
         |  CASE WHEN substr(md5(concat_ws('|',
         |      CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR), '42')),
         |      1, 8) < '40000000'
         |    THEN 1 ELSE 0 END AS is_test
         |FROM documents d LEFT JOIN cl USING (doc_id)""".stripMargin,

    "dedup_exact" ->
      s"""WITH f AS (SELECT doc_id, md5($NORM_TEXT) AS fp FROM documents)
         |SELECT doc_id, fp FROM f
         |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1""".stripMargin,

    "doc_fingerprint" ->
      s"SELECT doc_id, md5($NORM_TEXT) AS fp FROM documents",

    "text_stats" ->
      raw"""WITH RECURSIVE
           |$bpeDocCtes,
           |base AS (
           |  SELECT doc_id, text,
           |    CAST(len($TOKS_RAW) AS BIGINT) AS n_tokens,
           |    CAST(len(list_filter($TOKS_LOWER, t -> list_contains($EN, t))) AS BIGINT) AS n_hits
           |  FROM documents),
           |ratios AS (
           |  SELECT doc_id, text, n_tokens,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) END AS alpha_r,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text) END AS digit_r,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text) END AS punct_r,
           |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_hits * 1.0 / n_tokens END AS stop_r
           |  FROM base)
           |SELECT doc_id,
           |  CAST(length(text) AS BIGINT) AS n_chars2,
           |  n_tokens,
           |  COALESCE(bd.n_subwords, 0) AS n_subwords,
           |  round(alpha_r, 6) AS alpha_ratio,
           |  round(digit_r, 6) AS digit_ratio,
           |  round(stop_r, 6) AS stopword_ratio,
           |  round(least(length(text) * 1.0 / 500.0, 1.0) * 0.25 + alpha_r * 0.35 +
           |    least(stop_r * 4.0, 1.0) * 0.2 +
           |    greatest(0.0, 1.0 - punct_r * 5.0) * 0.2, 6) AS quality
           |FROM ratios LEFT JOIN bpe_doc bd USING (doc_id)""".stripMargin,

    "lang_id" ->
      raw"""WITH d AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) * 1.0 / length(text) END AS cjk,
           |    list_distinct($TOKS_LOWER) AS toks
           |  FROM documents),
           |s AS (
           |  SELECT doc_id, lang, cjk,
           |    len(list_intersect(toks, $EN)) AS en,
           |    len(list_intersect(toks, $DE)) AS de,
           |    len(list_intersect(toks, $ES)) AS es,
           |    len(list_intersect(toks, $FR)) AS fr
           |  FROM d)
           |SELECT doc_id, lang,
           |  CASE WHEN cjk >= 0.2 THEN 'zh'
           |       WHEN en = 0 AND de = 0 AND es = 0 AND fr = 0 THEN 'und'
           |       WHEN en >= de AND en >= es AND en >= fr THEN 'en'
           |       WHEN de >= es AND de >= fr THEN 'de'
           |       WHEN es >= fr THEN 'es'
           |       ELSE 'fr' END AS pred_lang
           |FROM s""".stripMargin,

    // Gopher-family repetition signals: RepStats' integer fields replayed
    // with list n-grams + group-count max; fractions are the same arithmetic
    // over them (int → DOUBLE casts explicit — DuckDB `/` on ints is double,
    // but the CASTs keep the formulas literally identical to the Spark side).
    "repetition_stats" ->
      raw"""WITH d AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
           |b AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd FROM d),
           |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
           |    i -> toks[i] || ' ' || toks[i + 1])) AS g FROM d),
           |m2 AS (SELECT doc_id, max(c) AS m FROM (
           |    SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
           |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
           |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g FROM d),
           |m3 AS (SELECT doc_id, max(c) AS m FROM (
           |    SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1)
           |SELECT b.doc_id,
           |  CAST(n AS BIGINT) AS n_tokens,
           |  CAST(COALESCE(m2.m, 0) AS BIGINT) AS top2_n,
           |  round(CASE WHEN n = 0 THEN 0.0
           |    ELSE 1.0 - CAST(nd AS DOUBLE) / n END, 6) AS dup_token_frac,
           |  round(CASE WHEN n < 2 THEN 0.0
           |    ELSE CAST(COALESCE(m2.m, 0) AS DOUBLE) / (n - 1) END, 6) AS top2_frac,
           |  round(CASE WHEN n < 3 THEN 0.0
           |    ELSE CAST(COALESCE(m3.m, 0) AS DOUBLE) / (n - 2) END, 6) AS top3_frac
           |FROM b LEFT JOIN m2 ON b.doc_id = m2.doc_id
           |       LEFT JOIN m3 ON b.doc_id = m3.doc_id""".stripMargin,

    // eval-set n-gram decontamination: word 8-grams of lower(text), eval =
    // doc_id % 10 = 0, corpus docs flagged with their distinct-overlap count
    "decontaminate" ->
      raw"""WITH d AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
           |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 7),
           |    i -> array_to_string(toks[i:i + 7], ' '))) AS ng FROM d),
           |gh AS (SELECT doc_id, ${mh63("ng")} AS h FROM g),
           |e AS (SELECT DISTINCT h FROM gh WHERE doc_id % 10 = 0)
           |SELECT gh.doc_id, CAST(COUNT(DISTINCT gh.h) AS BIGINT) AS n_hits
           |FROM gh JOIN e USING (h) WHERE gh.doc_id % 10 <> 0
           |GROUP BY 1""".stripMargin,

    // PSI drift: baseline-decile edges by nearest rank (value at
    // ceil(k*n/10)), bin = #edges strictly below, additive-0.5 smoothing,
    // one ln per bin (the ln bridge)
    "drift_psi" ->
      s"""WITH $EV,
         |b AS (SELECT CAST(value AS DECIMAL(18,2)) AS v FROM ev
         |  WHERE event_type = 'click'),
         |cur AS (SELECT CAST(value AS DECIMAL(18,2)) AS v FROM ev
         |  WHERE event_type = 'purchase'),
         |rb AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM b),
         |n AS (SELECT COUNT(*) AS n FROM b),
         |ed AS (SELECT rb.v FROM rb, n, unnest(generate_series(1, 9)) AS g(k)
         |  WHERE rk = CAST(ceil(k * n / 10.0) AS BIGINT)),
         |arr AS (SELECT list_sort(list(v)) AS edges FROM ed),
         |nb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_base FROM
         |  (SELECT len(list_filter(edges, e -> b.v > e)) AS bin FROM b, arr)
         |  GROUP BY 1),
         |nc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_cur FROM
         |  (SELECT len(list_filter(edges, e -> cur.v > e)) AS bin
         |   FROM cur, arr) GROUP BY 1),
         |tot AS (SELECT (SELECT COUNT(*) FROM b) AS tb,
         |  (SELECT COUNT(*) FROM cur) AS tc),
         |bins AS (SELECT unnest(generate_series(0, 9)) AS bin)
         |SELECT CAST(bins.bin AS BIGINT) AS bin,
         |  COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur,
         |  round(((COALESCE(n_base, 0) + 0.5) / (tb + 5.0) -
         |         (COALESCE(n_cur, 0) + 0.5) / (tc + 5.0)) *
         |    ln(((COALESCE(n_base, 0) + 0.5) / (tb + 5.0)) /
         |       ((COALESCE(n_cur, 0) + 0.5) / (tc + 5.0))), 6) AS psi_term
         |FROM bins LEFT JOIN nb ON bins.bin = nb.bin
         |  LEFT JOIN nc ON bins.bin = nc.bin, tot""".stripMargin,

    // negative sampling: slot s of user u -> item md5(u|s|seed) % nItems,
    // lowest slot wins hash collisions, anti-join positives, first 5
    "negative_sample" ->
      s"""WITH inter AS (SELECT DISTINCT o_custkey AS u,
         |    CAST(l_partkey AS BIGINT) AS item
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |users AS (SELECT DISTINCT u FROM inter),
         |cand0 AS (SELECT u, s,
         |    ${mh63("CAST(u AS VARCHAR) || '|' || CAST(s AS VARCHAR) || '|neg'")}
         |      % 2000 AS item
         |  FROM users, unnest(generate_series(0, 14)) AS g(s)),
         |cand AS (SELECT u, item, MIN(s) AS slot FROM cand0 GROUP BY 1, 2),
         |neg AS (SELECT c.u, c.item, slot FROM cand c
         |  LEFT JOIN inter i ON c.u = i.u AND c.item = i.item
         |  WHERE i.u IS NULL)
         |SELECT u AS "user", item,
         |  CAST(row_number() OVER (PARTITION BY u ORDER BY slot) AS BIGINT)
         |    AS "rank"
         |FROM neg QUALIFY "rank" <= 5""".stripMargin,

    // top-50 PMI collocations: counts exact, one double expression
    // ln(fab*T/(f1*f2)) with pinned casts; ORDER on the ROUNDED pmi so
    // sub-6dp ulp differences collapse into the bigram tie-break
    "pmi_collocations" ->
      raw"""WITH d AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
           |t AS (SELECT unnest(toks) AS token FROM d),
           |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS f
           |  FROM t GROUP BY 1),
           |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS tt FROM uni),
           |bg AS (SELECT array_to_string(toks[i:i + 1], ' ') AS bigram
           |  FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
           |bi AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS fab
           |  FROM bg GROUP BY 1 HAVING COUNT(*) >= 5),
           |s AS (SELECT bigram, fab, u1.f AS f1, u2.f AS f2,
           |    round(ln((CAST(fab AS DOUBLE) * CAST(tt AS DOUBLE)) /
           |      (CAST(u1.f AS DOUBLE) * CAST(u2.f AS DOUBLE))), 6) AS pmi
           |  FROM bi
           |  JOIN uni u1 ON string_split(bigram, ' ')[1] = u1.token
           |  JOIN uni u2 ON string_split(bigram, ' ')[2] = u2.token, tot)
           |SELECT * FROM s ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin,

    // categorical PSI: observed-category union, same smoothing/ln rule;
    // K = category count in the denominator
    "drift_categorical" ->
      s"""WITH $EV,
         |b AS (SELECT event_type AS category, CAST(COUNT(*) AS BIGINT)
         |    AS n_base FROM ev WHERE ts < TIMESTAMP '2024-01-16'
         |  GROUP BY 1),
         |c AS (SELECT event_type AS category, CAST(COUNT(*) AS BIGINT)
         |    AS n_cur FROM ev WHERE ts >= TIMESTAMP '2024-01-16'
         |  GROUP BY 1),
         |j AS (SELECT COALESCE(b.category, c.category) AS category,
         |    COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
         |  FROM b FULL OUTER JOIN c ON b.category = c.category),
         |t AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc,
         |    COUNT(*) AS k FROM j)
         |SELECT category, n_base, n_cur,
         |  round(((n_base + 0.5) / (tb + 0.5 * k) -
         |         (n_cur + 0.5) / (tc + 0.5 * k)) *
         |    ln(((n_base + 0.5) / (tb + 0.5 * k)) /
         |       ((n_cur + 0.5) / (tc + 0.5 * k))), 6) AS psi_term
         |FROM j, t""".stripMargin,

    // Window-ladder PIT aggregates: one 24h join, each rung a conditional
    // filter aggregate; DECIMAL sums per rung, zero rows kept
    "pit_window_ladder" ->
      s"""WITH $EV,
         |l AS (SELECT DISTINCT user_id, ts FROM ev
         |  WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts, value FROM ev
         |  WHERE event_type = 'click')
         |SELECT l.user_id, epoch_ms(l.ts) AS label_ts_ms,
         |  CAST(COUNT(c.user_id) FILTER (c.ts >= l.ts - INTERVAL 1 HOUR)
         |    AS BIGINT) AS n_3600,
         |  COALESCE(CAST(SUM(CAST(c.value AS DECIMAL(18,2)))
         |    FILTER (c.ts >= l.ts - INTERVAL 1 HOUR) AS DOUBLE), 0.0)
         |    AS sum_3600,
         |  CAST(COUNT(c.user_id) FILTER (c.ts >= l.ts - INTERVAL 6 HOUR)
         |    AS BIGINT) AS n_21600,
         |  COALESCE(CAST(SUM(CAST(c.value AS DECIMAL(18,2)))
         |    FILTER (c.ts >= l.ts - INTERVAL 6 HOUR) AS DOUBLE), 0.0)
         |    AS sum_21600,
         |  CAST(COUNT(c.user_id) AS BIGINT) AS n_86400,
         |  COALESCE(CAST(SUM(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE), 0.0)
         |    AS sum_86400
         |FROM l LEFT JOIN c ON c.user_id = l.user_id
         |  AND c.ts >= l.ts - INTERVAL 24 HOUR AND c.ts < l.ts
         |GROUP BY 1, 2""".stripMargin,

    // Expectation-suite validation report: per-rule violation counts.
    // rlike/regexp_matches are both unanchored-search semantics; the FK
    // rule counts NULL fks as dangling (NOT EXISTS with = NULL never
    // matches) — same convention as the Spark anti-join.
    "validate_gate" ->
      """WITH u AS (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
        |SELECT rule, target, n_violations, n_rows,
        |  n_violations = 0 AS pass FROM (
        |  SELECT 'not_null' AS rule, 'o_custkey' AS target,
        |    CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT) AS n_violations,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders
        |  UNION ALL
        |  SELECT 'in_range', 'o_totalprice',
        |    CAST(COUNT(*) FILTER (o_totalprice IS NULL OR o_totalprice < 0
        |      OR o_totalprice > 200000) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'matches', 'o_orderpriority',
        |    CAST(COUNT(*) FILTER (o_orderpriority IS NOT NULL AND
        |      NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey',
        |    CAST(SUM(c - 1) AS BIGINT), CAST(SUM(c) AS BIGINT) FROM u
        |  UNION ALL
        |  SELECT 'ref_integrity', 'o_custkey',
        |    CAST(COUNT(*) FILTER (NOT EXISTS (SELECT 1 FROM customer
        |      WHERE c_custkey = o_custkey)) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM orders)""".stripMargin,

    // PIT trailing-window aggregates: per distinct purchase (user, ts),
    // clicks in [ts - 1h, ts) — half-open, label instant excluded; sums in
    // DECIMAL(18,2), zero-event labels keep (0, 0.0). n_events counts the
    // JOIN KEY (c.user_id), not c.value: Spark counts joined rows, so an
    // event with a NULL value must still count
    "pit_window_agg" ->
      s"""WITH $EV,
         |l AS (SELECT DISTINCT user_id, ts FROM ev
         |  WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts, value FROM ev
         |  WHERE event_type = 'click')
         |SELECT l.user_id, epoch_ms(l.ts) AS label_ts_ms,
         |  CAST(COUNT(c.user_id) AS BIGINT) AS n_events,
         |  COALESCE(CAST(SUM(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE), 0.0)
         |    AS sum_value
         |FROM l LEFT JOIN c ON c.user_id = l.user_id
         |  AND c.ts >= l.ts - INTERVAL 1 HOUR AND c.ts < l.ts
         |GROUP BY 1, 2""".stripMargin,

    // Forward label windows: per distinct click anchor (user, ts),
    // purchases in (ts, ts + 1h] — strict start, inclusive end; label is
    // existence, first_outcome_ms NULL when none. Same COUNT-the-join-key
    // and DECIMAL-sum rules as pit_window_agg
    "label_window" ->
      s"""WITH $EV,
         |a AS (SELECT DISTINCT user_id, ts FROM ev
         |  WHERE event_type = 'click'),
         |o AS (SELECT user_id, ts, value FROM ev
         |  WHERE event_type = 'purchase')
         |SELECT a.user_id, epoch_ms(a.ts) AS anchor_ts_ms,
         |  CAST(CASE WHEN COUNT(o.user_id) > 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS label,
         |  CAST(COUNT(o.user_id) AS BIGINT) AS n_outcomes,
         |  COALESCE(CAST(SUM(CAST(o.value AS DECIMAL(18,2))) AS DOUBLE), 0.0)
         |    AS sum_value,
         |  epoch_ms(MIN(o.ts)) AS first_outcome_ms
         |FROM a LEFT JOIN o ON o.user_id = a.user_id
         |  AND o.ts > a.ts AND o.ts <= a.ts + INTERVAL 1 HOUR
         |GROUP BY 1, 2""".stripMargin,

    // Top-5 TF-IDF keywords per doc: tf and df exact integers, the one
    // double is tf * ln(N/df) (the ln bridge), token breaks exact ties
    "tfidf_keywords" ->
      raw"""WITH d AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
           |t AS (SELECT doc_id, unnest(toks) AS token FROM d),
           |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           |  FROM t GROUP BY 1, 2),
           |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
           |  FROM tf GROUP BY 1),
           |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
           |s AS (SELECT doc_id, token, tf, df,
           |    tf * ln(CAST(n AS DOUBLE) / df) AS score
           |  FROM tf JOIN df USING (token), n)
           |SELECT doc_id, token, tf, df, round(score, 6) AS tfidf FROM s
           |QUALIFY row_number() OVER (PARTITION BY doc_id
           |  ORDER BY round(score, 6) DESC, token) <= 5""".stripMargin,

    // JSONL export roundtrip: the read-back must be the table itself plus
    // the deterministic md5 shard assignment
    "jsonl_export" ->
      s"""SELECT doc_id, source, text,
         |  ${mh63("CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |FROM documents""".stripMargin,

    // Token-budget selection: per source, (quality DESC, doc_id) order,
    // keep while the running total BEFORE the doc is under budget (the
    // crossing doc is included). SUM(BIGINT) is HUGEINT in DuckDB — cast.
    "token_budget_select" ->
      raw"""WITH $QUALITY_CTES,
           |s AS (SELECT b.doc_id, d.source, q.quality, b.n_tokens
           |  FROM base b JOIN q USING (doc_id)
           |  JOIN documents d ON b.doc_id = d.doc_id),
           |c AS (SELECT source, doc_id, quality, n_tokens,
           |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source
           |      ORDER BY quality DESC, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS cum_before FROM s)
           |SELECT source, doc_id, quality, n_tokens,
           |  CAST(cum_before AS BIGINT) AS cum_before
           |FROM c WHERE cum_before < 600""".stripMargin,

    // Span-level exact duplication: 10-grams in >= 2 docs, per-doc hit
    // positions merged into islands (merge when start <= accumulated end —
    // half-open, adjacency merges), covered tokens summed. Window chain
    // replays Dedup.dupSpans verbatim.
    "dup_spans" ->
      raw"""WITH d AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
           |g AS (SELECT doc_id, i - 1 AS pos,
           |    ${mh63("array_to_string(toks[i:i + 9], ' ')")} AS h
           |  FROM d, unnest(generate_series(1, len(toks) - 9)) AS u(i)),
           |hot AS (SELECT h FROM g GROUP BY h
           |  HAVING COUNT(DISTINCT doc_id) >= 2),
           |p AS (SELECT doc_id, pos FROM g JOIN hot USING (h)),
           |w AS (SELECT doc_id, pos, CASE WHEN pos > COALESCE(
           |    MAX(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           |    THEN 1 ELSE 0 END AS st FROM p),
           |isl AS (SELECT doc_id, pos,
           |    SUM(st) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM w),
           |cov AS (SELECT doc_id, isl, MIN(pos) AS s, MAX(pos + 10) AS e
           |  FROM isl GROUP BY 1, 2),
           |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           |    CAST(SUM(e - s) AS BIGINT) AS n_dup_tokens
           |  FROM cov GROUP BY 1)
           |SELECT agg.doc_id, n_dup_spans, n_dup_tokens,
           |  CAST(len(toks) AS BIGINT) AS n_tokens,
           |  round(CAST(n_dup_tokens AS DOUBLE) / len(toks), 6) AS dup_span_frac
           |FROM agg JOIN d ON agg.doc_id = d.doc_id""".stripMargin,

    // Exact-substring removal: same island chain as dup_spans, then each
    // doc's tokens outside every island re-join with single spaces.
    // Islands are disjoint per doc (merged), so the left-join cut cannot
    // duplicate a token. Docs with everything removed keep '' (COALESCE —
    // string_agg over zero rows is NULL).
    "scrub_dup_spans" ->
      raw"""WITH d AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
           |g AS (SELECT doc_id, i - 1 AS pos,
           |    ${mh63("array_to_string(toks[i:i + 9], ' ')")} AS h
           |  FROM d, unnest(generate_series(1, len(toks) - 9)) AS u(i)),
           |hot AS (SELECT h FROM g GROUP BY h
           |  HAVING COUNT(DISTINCT doc_id) >= 2),
           |p AS (SELECT doc_id, pos FROM g JOIN hot USING (h)),
           |w AS (SELECT doc_id, pos, CASE WHEN pos > COALESCE(
           |    MAX(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           |    THEN 1 ELSE 0 END AS st FROM p),
           |isl AS (SELECT doc_id, pos,
           |    SUM(st) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM w),
           |cov AS (SELECT doc_id, isl, MIN(pos) AS s, MAX(pos + 10) AS e
           |  FROM isl GROUP BY 1, 2),
           |tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
           |  FROM d, unnest(generate_series(1, len(toks))) AS u(i)),
           |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
           |  LEFT JOIN cov c ON t.doc_id = c.doc_id
           |    AND t.pos >= c.s AND t.pos < c.e
           |  WHERE c.doc_id IS NULL),
           |agg AS (SELECT doc_id,
           |    string_agg(tok, ' ' ORDER BY pos) AS clean_text,
           |    CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1)
           |SELECT d.doc_id, COALESCE(clean_text, '') AS clean_text,
           |  COALESCE(n_kept, 0) AS n_kept,
           |  CAST(len(toks) AS BIGINT) - COALESCE(n_kept, 0) AS n_removed
           |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin,

    // Bloom-filter decontamination: the filter is REBUILT in SQL — eval
    // grams probe 5 positions (md5 of gram||'#'||i mod 2^20), bits pack 63
    // per BIGINT word (shift 0..62 only — never the sign bit), corpus grams
    // hit when all 5 bits are set. Exact counts ride beside, bloom ⊇ exact.
    "bloom_decontam" ->
      raw"""WITH d AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
           |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 7),
           |    i -> array_to_string(toks[i:i + 7], ' '))) AS ng FROM d),
           |e AS (SELECT DISTINCT ng FROM g WHERE doc_id % 10 = 0),
           |pos AS (SELECT ${mh63("ng || '#' || CAST(i AS VARCHAR)")} % 1048576 AS p
           |  FROM (SELECT ng, unnest([1, 2, 3, 4, 5]) AS i FROM e)),
           |bloom AS (SELECT p // 63 AS w,
           |    bit_or(1::BIGINT << CAST(p % 63 AS INTEGER)) AS bits
           |  FROM pos GROUP BY 1),
           |cg AS (SELECT DISTINCT doc_id, ng FROM g WHERE doc_id % 10 <> 0),
           |cp AS (SELECT doc_id, ng,
           |    ${mh63("ng || '#' || CAST(i AS VARCHAR)")} % 1048576 AS p
           |  FROM (SELECT doc_id, ng, unnest([1, 2, 3, 4, 5]) AS i FROM cg)),
           |hits AS (SELECT doc_id, ng
           |  FROM cp LEFT JOIN bloom ON cp.p // 63 = bloom.w
           |  GROUP BY doc_id, ng
           |  HAVING bool_and((COALESCE(bits, 0)
           |    & (1::BIGINT << CAST(p % 63 AS INTEGER))) <> 0)),
           |bl AS (SELECT doc_id,
           |    CAST(COUNT(DISTINCT ${mh63("ng")}) AS BIGINT) AS n_bloom_hits
           |  FROM hits GROUP BY 1),
           |gh AS (SELECT doc_id, ${mh63("ng")} AS h FROM g),
           |eh AS (SELECT DISTINCT h FROM gh WHERE doc_id % 10 = 0),
           |ex AS (SELECT gh.doc_id,
           |    CAST(COUNT(DISTINCT gh.h) AS BIGINT) AS n_exact_hits
           |  FROM gh JOIN eh USING (h) WHERE gh.doc_id % 10 <> 0 GROUP BY 1)
           |SELECT bl.doc_id, n_bloom_hits,
           |  COALESCE(n_exact_hits, 0) AS n_exact_hits
           |FROM bl LEFT JOIN ex ON bl.doc_id = ex.doc_id""".stripMargin,

    // K8 sink round-trip: the append-mode "topic" must hold exactly the
    // input stream — order-independent per-entity stats vs the batch table
    "kafka_write_roundtrip" ->
      s"""WITH $EV
         |SELECT user_id AS entity, COUNT(*) AS n,
         |  min(value) AS min_value, max(value) AS max_value,
         |  max(epoch_ms(ts)) AS max_ts_ms
         |FROM ev GROUP BY 1""".stripMargin,

    // right-to-erasure lifecycle: row counts recomputed from the batch
    // table, version arithmetic (1 written + 1 scrub − 1 gc'd = 2 touched)
    // and the online hit/miss contract (hit iff the entity has any event;
    // always a miss after forget)
    "forget_entity" ->
      s"""WITH $EV
         |SELECT CAST(COUNT(*) AS BIGINT) AS rows_before,
         |  CAST(COUNT(*) FILTER (WHERE user_id <> 7) AS BIGINT) AS rows_after,
         |  CAST(2 AS BIGINT) AS n_versions_touched,
         |  CAST(CASE WHEN COUNT(*) FILTER (WHERE user_id = 7) > 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS online_before,
         |  CAST(0 AS BIGINT) AS online_after
         |FROM ev""".stripMargin,

    // date-partition pruning: same 3-day aggregate recomputed from the raw
    // table (the Spark side reads only the pruned __date directories)
    "date_pruned_scan" ->
      s"""WITH $EV
         |SELECT strftime(ts, '%Y-%m-%d') AS __date,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |  min(value) AS min_value, max(value) AS max_value
         |FROM ev
         |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-12'
         |GROUP BY 1""".stripMargin,

    // incremental dedup: exactly the full-corpus pair set restricted to
    // pairs touching the new batch (doc_id % 5 = 4) — reusing stored
    // signatures must not change any reported pair
    "incremental_dedup" ->
      s"""SELECT idA, idB, jaccard FROM ($minhashNearDupsSql)
         |WHERE idA % 5 = 4 OR idB % 5 = 4""".stripMargin,

    // pair -> cluster resolution: the full minhash LSH replay nested as a
    // derived table, closed transitively (reach = all ids reachable from a
    // through the undirected pair graph; min(reachable) = component min,
    // the cluster_id contract of Dedup.closePairs). dedup_clusters and
    // dedup_clusters_star run the same closure and share this truth
    "dedup_clusters_star" ->
      s"""WITH RECURSIVE
         |p AS MATERIALIZED (SELECT idA, idB FROM ($minhashNearDupsSql)),
         |e AS (SELECT idA AS s, idB AS d FROM p
         |      UNION SELECT idB, idA FROM p),
         |n AS (SELECT DISTINCT s AS id FROM e),
         |reach(a, b) AS (
         |  SELECT id, id FROM n
         |  UNION
         |  SELECT r.a, e.d FROM reach r JOIN e ON r.b = e.s)
         |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE
         |p AS MATERIALIZED (SELECT idA, idB FROM ($minhashNearDupsSql)),
         |e AS (SELECT idA AS s, idB AS d FROM p
         |      UNION SELECT idB, idA FROM p),
         |n AS (SELECT DISTINCT s AS id FROM e),
         |reach(a, b) AS (
         |  SELECT id, id FROM n
         |  UNION
         |  SELECT r.a, e.d FROM reach r JOIN e ON r.b = e.s)
         |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1""".stripMargin,

    // incremental closure ≡ full recompute: the SAME closure-over-all-pairs
    // truth as dedup_clusters — closePairs over the old pairs, then the new
    // pairs folded into those labels through its `prior` mode
    "dedup_clusters_incr" ->
      s"""WITH RECURSIVE
         |p AS MATERIALIZED (SELECT idA, idB FROM ($minhashNearDupsSql)),
         |e AS (SELECT idA AS s, idB AS d FROM p
         |      UNION SELECT idB, idA FROM p),
         |n AS (SELECT DISTINCT s AS id FROM e),
         |reach(a, b) AS (
         |  SELECT id, id FROM n
         |  UNION
         |  SELECT r.a, e.d FROM reach r JOIN e ON r.b = e.s)
         |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY 1""".stripMargin,

    // golden record: the cluster closure replayed, then field-level
    // survivorship — arg_max with a NULL-masked priority ≡ Spark max_by
    "golden_record" ->
      s"""WITH RECURSIVE
         |p AS MATERIALIZED (SELECT idA, idB FROM ($minhashNearDupsSql)),
         |e AS (SELECT idA AS s, idB AS d FROM p
         |      UNION SELECT idB, idA FROM p),
         |n AS (SELECT DISTINCT s AS id FROM e),
         |reach(a, b) AS (
         |  SELECT id, id FROM n
         |  UNION
         |  SELECT r.a, e.d FROM reach r JOIN e ON r.b = e.s),
         |cl AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY 1),
         |rec AS (SELECT cl.cluster_id,
         |    CASE WHEN d.doc_id % 3 = 0 THEN NULL ELSE d.lang END AS lang,
         |    CASE WHEN d.doc_id % 5 = 0 THEN NULL ELSE d.source END
         |      AS source,
         |    d.n_chars, d.n_chars * 10000000 + d.doc_id AS prio
         |  FROM documents d JOIN cl USING (doc_id))
         |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  arg_max(lang, CASE WHEN lang IS NOT NULL THEN prio END) AS lang,
         |  arg_max(source, CASE WHEN source IS NOT NULL THEN prio END)
         |    AS source,
         |  arg_max(n_chars, CASE WHEN n_chars IS NOT NULL THEN prio END)
         |    AS n_chars
         |FROM rec GROUP BY 1""".stripMargin,

    // session journeys: same gaps-and-islands rule as session_stats,
    // ordered string_agg ≡ Spark's sorted-struct array_join
    "session_export" ->
      s"""WITH $EV,
         |l AS (SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |         THEN 1 ELSE 0 END AS nw
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s2 AS (SELECT user_id, ts, event_id, event_type,
         |    SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
         |  FROM l)
         |SELECT user_id,
         |  CAST(epoch_ms(MIN(ts)) AS BIGINT) AS session_start_ms,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT)
         |    AS duration_ms,
         |  string_agg(event_type, '->' ORDER BY ts, event_id) AS path
         |FROM s2 GROUP BY user_id, sess""".stripMargin,

    // split-conformal interval: exact OLS sums → identical (b0, b1)
    // doubles, nearest-rank q90 of |residual| on the calibration split,
    // coverage on the test split — every stage replayed
    "conformal_interval" ->
      s"""WITH li AS (SELECT
         |    CAST(l_orderkey AS VARCHAR) || '|' ||
         |      CAST(l_linenumber AS VARCHAR) AS k,
         |    CAST(l_quantity AS BIGINT) AS x,
         |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y,
         |    ${mh63("CAST(l_orderkey AS VARCHAR) || '|' || " +
             "CAST(l_linenumber AS VARCHAR) || '|cf'")} % 4 AS split
         |  FROM lineitem),
         |t0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM li WHERE split <= 1),
         |b1c AS (SELECT n, sx, sy,
         |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b1
         |  FROM t0),
         |b AS (SELECT n, b1,
         |    (CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE)) /
         |      CAST(n AS DOUBLE) AS b0
         |  FROM b1c),
         |cal AS (SELECT k, round(abs(CAST(y AS DOUBLE) -
         |    (b0 + b1 * CAST(x AS DOUBLE))), 9) AS r
         |  FROM li, b WHERE split = 2),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncal FROM cal),
         |qq AS (SELECT r AS q
         |  FROM (SELECT r, row_number() OVER (ORDER BY r, k) AS rn
         |        FROM cal), nc
         |  WHERE rn = least((9 * (ncal + 1) + 9) // 10, ncal)),
         |tst AS (SELECT round(abs(CAST(y AS DOUBLE) -
         |    (b0 + b1 * CAST(x AS DOUBLE))), 9) AS r
         |  FROM li, b WHERE split = 3)
         |SELECT (SELECT n FROM t0) AS n_train,
         |  (SELECT ncal FROM nc) AS n_cal,
         |  CAST(COUNT(*) AS BIGINT) AS n_test,
         |  round((SELECT b0 FROM b), 6) AS b0,
         |  round((SELECT b1 FROM b), 6) AS b1,
         |  (SELECT q FROM qq) AS q90,
         |  round(CAST(SUM(CASE WHEN r <= (SELECT q FROM qq)
         |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS coverage
         |FROM tst""".stripMargin,

    // int8 quantization replay: identical double arithmetic elementwise
    // (floor(x/s + 0.5) is the portable round-half-up; round() half-mode
    // conventions differ between engines)
    "embedding_quantize" ->
      """WITH b AS (SELECT vec_id, embedding AS e,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
        |  FROM embeddings),
        |q AS (SELECT vec_id, e, s,
        |    CASE WHEN s = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(e, x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS BIGINT)) END AS qv
        |  FROM b)
        |SELECT vec_id, round(s, 6) AS scale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max,
        |  round(list_max(list_transform(generate_series(1, len(e)),
        |    i -> abs(CAST(e[i] AS DOUBLE) - qv[i] * s))), 6) AS max_abs_err
        |FROM q""".stripMargin,

    // PII redaction replay: same injection arithmetic, same RE2-safe
    // patterns (single-backslash raw strings shared with TextFunctions),
    // DuckDB needs the 'g' flag for replace-all
    "pii_scrub" -> {
      val email = graft.functions.TextFunctions.EmailRe
      val phone = graft.functions.TextFunctions.PhoneRe
      val ip = graft.functions.TextFunctions.Ipv4Re
      s"""WITH inj AS (SELECT doc_id,
         |  text || ' contact doc' || doc_id || '@example.com or +155500012' ||
         |    (doc_id % 100) || ' at 10.0.0.' || (doc_id % 256) AS t
         |  FROM documents),
         |scr AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
         |    t, '$email', '<EMAIL>', 'g'),
         |    '$phone', '<PHONE>', 'g'),
         |    '$ip', '<IP>', 'g') AS s FROM inj)
         |SELECT doc_id, md5(s) AS scrubbed_md5,
         |  CAST(length(s) AS BIGINT) AS n_chars,
         |  CAST(len(regexp_extract_all(s, '<EMAIL>|<PHONE>|<IP>')) AS BIGINT) AS n_redactions
         |FROM scr""".stripMargin
    },

    // deterministic stratified sampling: md5-prefix gate, thresholds
    // generated from the same Sampling.hexThreshold the Spark side uses
    "stratified_sample" -> {
      val en = graft.functions.Sampling.hexThreshold(0.5)
      val de = graft.functions.Sampling.hexThreshold(0.25)
      val other = graft.functions.Sampling.hexThreshold(0.1)
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(concat_ws('|', CAST(doc_id AS VARCHAR), 'mix1')), 1, 8) <
         |  CASE lang WHEN 'en' THEN '$en' WHEN 'de' THEN '$de' ELSE '$other' END""".stripMargin
    },

    "corpus_clean" ->
      raw"""WITH d AS (
           |  SELECT doc_id, text,
           |    CAST(len($TOKS_RAW) AS BIGINT) AS n_tokens,
           |    list_distinct($TOKS_LOWER) AS dtoks,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) * 1.0 / length(text) END AS cjk,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) END AS alpha_r,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text) END AS punct_r,
           |    CAST(len(list_filter($TOKS_LOWER, t -> list_contains($EN, t))) AS BIGINT) AS en_hits
           |  FROM documents),
           |scored AS (
           |  SELECT doc_id, text, n_tokens,
           |    round(least(length(text) * 1.0 / 500.0, 1.0) * 0.25 + alpha_r * 0.35 +
           |      least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE en_hits * 1.0 / n_tokens END) * 4.0, 1.0) * 0.2 +
           |      greatest(0.0, 1.0 - punct_r * 5.0) * 0.2, 6) AS quality,
           |    CASE WHEN cjk >= 0.2 THEN 'zh'
           |         WHEN len(list_intersect(dtoks, $EN)) = 0 AND len(list_intersect(dtoks, $DE)) = 0
           |          AND len(list_intersect(dtoks, $ES)) = 0 AND len(list_intersect(dtoks, $FR)) = 0 THEN 'und'
           |         WHEN len(list_intersect(dtoks, $EN)) >= len(list_intersect(dtoks, $DE))
           |          AND len(list_intersect(dtoks, $EN)) >= len(list_intersect(dtoks, $ES))
           |          AND len(list_intersect(dtoks, $FR)) <= len(list_intersect(dtoks, $EN)) THEN 'en'
           |         WHEN len(list_intersect(dtoks, $DE)) >= len(list_intersect(dtoks, $ES))
           |          AND len(list_intersect(dtoks, $DE)) >= len(list_intersect(dtoks, $FR)) THEN 'de'
           |         WHEN len(list_intersect(dtoks, $ES)) >= len(list_intersect(dtoks, $FR)) THEN 'es'
           |         ELSE 'fr' END AS pred_lang
           |  FROM d),
           |kept AS (
           |  SELECT doc_id, text, n_tokens FROM scored
           |  WHERE quality >= 0.5 AND pred_lang = 'en')
           |SELECT doc_id, md5($NORM_TEXT) AS fp, n_tokens FROM kept
           |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1""".stripMargin,

    // Filter funnel: every doc binned at its FIRST failing rule (quality →
    // language → repetition → exact-dup → kept); n_entered is the reverse
    // cumulative sum over the stage rollup. Quality/lang replay = the
    // corpus_clean CTEs; repetition = repetition_stats' rounded
    // dup_token_frac; dedup survivor = lowest passing doc_id per
    // normalized-text md5
    "filter_funnel" ->
      raw"""WITH d AS (
           |  SELECT doc_id, text,
           |    CAST(len($TOKS_RAW) AS BIGINT) AS n_tokens,
           |    $TOKS_LOWER AS ltoks,
           |    list_distinct($TOKS_LOWER) AS dtoks,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) * 1.0 / length(text) END AS cjk,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) END AS alpha_r,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |      ELSE length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text) END AS punct_r,
           |    CAST(len(list_filter($TOKS_LOWER, t -> list_contains($EN, t))) AS BIGINT) AS en_hits
           |  FROM documents),
           |flags AS (
           |  SELECT doc_id, md5($NORM_TEXT) AS fp,
           |    (round(least(length(text) * 1.0 / 500.0, 1.0) * 0.25 + alpha_r * 0.35 +
           |      least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE en_hits * 1.0 / n_tokens END) * 4.0, 1.0) * 0.2 +
           |      greatest(0.0, 1.0 - punct_r * 5.0) * 0.2, 6) >= 0.5) AS pq,
           |    ((CASE WHEN cjk >= 0.2 THEN 'zh'
           |         WHEN len(list_intersect(dtoks, $EN)) = 0 AND len(list_intersect(dtoks, $DE)) = 0
           |          AND len(list_intersect(dtoks, $ES)) = 0 AND len(list_intersect(dtoks, $FR)) = 0 THEN 'und'
           |         WHEN len(list_intersect(dtoks, $EN)) >= len(list_intersect(dtoks, $DE))
           |          AND len(list_intersect(dtoks, $EN)) >= len(list_intersect(dtoks, $ES))
           |          AND len(list_intersect(dtoks, $FR)) <= len(list_intersect(dtoks, $EN)) THEN 'en'
           |         WHEN len(list_intersect(dtoks, $DE)) >= len(list_intersect(dtoks, $ES))
           |          AND len(list_intersect(dtoks, $DE)) >= len(list_intersect(dtoks, $FR)) THEN 'de'
           |         WHEN len(list_intersect(dtoks, $ES)) >= len(list_intersect(dtoks, $FR)) THEN 'es'
           |         ELSE 'fr' END) = 'en') AS pl,
           |    (round(CASE WHEN len(ltoks) = 0 THEN 0.0
           |      ELSE 1.0 - len(dtoks) * 1.0 / len(ltoks) END, 6) <= 0.6) AS pr
           |  FROM d),
           |staged AS (
           |  SELECT doc_id, pq, pl, pr,
           |    min(CASE WHEN pq AND pl AND pr THEN doc_id END)
           |      OVER (PARTITION BY fp) AS minpass
           |  FROM flags),
           |binned AS (
           |  SELECT CASE WHEN NOT pq THEN '1_quality'
           |              WHEN NOT pl THEN '2_language'
           |              WHEN NOT pr THEN '3_repetition'
           |              WHEN doc_id <> minpass THEN '4_exact_dup'
           |              ELSE '5_kept' END AS stage
           |  FROM staged),
           |c AS (SELECT stage, COUNT(*) AS n FROM binned GROUP BY 1),
           |st AS (SELECT unnest(['1_quality', '2_language', '3_repetition',
           |    '4_exact_dup', '5_kept']) AS stage),
           |j AS (SELECT st.stage, COALESCE(c.n, 0) AS n
           |  FROM st LEFT JOIN c USING (stage))
           |SELECT stage,
           |  CAST(SUM(n) OVER (ORDER BY stage
           |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
           |    AS n_entered,
           |  CAST(CASE WHEN stage = '5_kept' THEN 0 ELSE n END AS BIGINT)
           |    AS n_dropped
           |FROM j""".stripMargin,

    "ann_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.qv, e.v) /
        |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS sim
        |  FROM e CROSS JOIN q),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(sim, 6) AS cosine, CAST(rnk AS BIGINT) AS rank
        |FROM ranked WHERE rnk <= 10 AND query_id != neighbor_id""".stripMargin,

    "source_preview" ->
      "SELECT event_id, event_type, value FROM events ORDER BY event_id LIMIT 20",

    "df_transform" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    // final incremental snapshot == full recompute (the T5/M6 invariant)
    "incremental_refresh" ->
      s"""WITH $EV
         |SELECT user_id AS entity, value, epoch_ms(ts) AS ts_ms FROM ev
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1""".stripMargin,

    "versioned_write_roundtrip" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders WHERE strftime(o_orderdate, '%Y-%m-%d') < '1995-02-15'
        |GROUP BY 1""".stripMargin,

    "csv_roundtrip" ->
      "SELECT event_id, user_id, event_type, value FROM events WHERE event_id < 1000",

    // TableFormat seam: the planted mutations replayed directly — +100
    // balance updates for custkey % 10 = 4, clone inserts at key+100000
    // for % 10 = 5, no deletes
    "table_format_roundtrip" ->
      """WITH base AS (
        |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |  WHERE c_custkey <= 300)
        |SELECT c_custkey, 'update_postimage' AS change_type,
        |  c_acctbal + 100.0 AS c_acctbal, c_mktsegment
        |FROM base WHERE c_custkey % 10 = 4
        |UNION ALL
        |SELECT c_custkey + 100000, 'insert', c_acctbal, c_mktsegment
        |FROM base WHERE c_custkey % 10 = 5""".stripMargin,

    "orc_roundtrip" ->
      s"""WITH $EV
         |SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
         |FROM ev WHERE event_id < 1000""".stripMargin,

    "online_serving" ->
      s"""WITH $EV,
         |latest AS (SELECT user_id, value FROM ev WHERE event_type = 'click'
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1),
         |u AS (SELECT CAST(unnest(generate_series(0, 149)) AS BIGINT) AS entity)
         |SELECT u.entity, l.value AS f_click, COALESCE(l.value * 2, -1.0) AS f_dbl
         |FROM u LEFT JOIN latest l ON u.entity = l.user_id""".stripMargin,

    // the gRPC wire path's oracle IS online_serving's latest-value rule
    // (minus the on-demand column): the engine side travels through a real
    // gRPC/HTTP2 round-trip before landing in the result frame
    "grpc_serve_roundtrip" ->
      s"""WITH $EV,
         |latest AS (SELECT user_id, value FROM ev WHERE event_type = 'click'
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1),
         |u AS (SELECT CAST(unnest(generate_series(0, 149)) AS BIGINT) AS entity)
         |SELECT u.entity, l.value AS f_click
         |FROM u LEFT JOIN latest l ON u.entity = l.user_id""".stripMargin,

    // the Metadata registration plane's oracle is the transformation the
    // wire client registered: the engine side travels request-encode →
    // HTTP2 → catalog → GetEquivalent re-encode → client decode before the
    // decoded query text is executed, so a corruption anywhere on the
    // registration path breaks the hash
    "grpc_metadata_roundtrip" ->
      """SELECT o_custkey AS entity,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_custkey""".stripMargin,

    // Arrow Flight transport oracle: the served click slice verbatim —
    // the engine side travels DoGet frame split → IPC reassembly →
    // Arrow reader before landing in the result frame
    "flight_roundtrip" ->
      s"""WITH $EV
         |SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value
         |FROM ev WHERE event_type = 'click'""".stripMargin,

    // deterministic two-phase deletion trace — mark blocked by 2 live
    // dependents (feature + label), leaf training set marks + finalizes
    // (hook fires once), prune stages the 3-resource closure, finalizing
    // it leaves nothing live
    "staged_deletion" ->
      """SELECT * FROM (VALUES
        |  ('mark_source', 'blocked', CAST(1 AS BIGINT)),
        |  ('mark_source', 'live_dependents', CAST(2 AS BIGINT)),
        |  ('mark_tset', 'staged', CAST(1 AS BIGINT)),
        |  ('finalize_tset', 'physical_fired', CAST(1 AS BIGINT)),
        |  ('finalize_tset', 'live_tsets', CAST(0 AS BIGINT)),
        |  ('prune_source', 'staged', CAST(3 AS BIGINT)),
        |  ('finalize_all', 'live_resources', CAST(0 AS BIGINT)))
        |  AS t(step, metric, value)""".stripMargin,

    // coordinator daemon trace: registration lands created(1); the polling
    // scheduler executes it to READY(3) with its id stamped and the body's
    // Spark count replayed from the same parquet; a wire CANCELLED(6) kills
    // the blocking run mid-flight with zero failed-retry rows
    "scheduler_lifecycle" ->
      """SELECT * FROM (
        |  SELECT 'create' AS step, 'status' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'execute', 'status', 3
        |  UNION ALL SELECT 'execute', 'scheduler_id', 1
        |  UNION ALL SELECT 'execute', 'trigger', 1
        |  UNION ALL SELECT 'execute', 'rows', (SELECT COUNT(*) FROM orders)
        |  UNION ALL SELECT 'cancel', 'status', 6
        |  UNION ALL SELECT 'cancel', 'retried', 0
        |  UNION ALL SELECT 'schedule', 'status', 3
        |  UNION ALL SELECT 'schedule', 'scheduler_id', 1
        |  UNION ALL SELECT 'schedule', 'trigger', 0)""".stripMargin,

    // the daemon's self-healing reconcile: an orphaned running row (crash
    // artifact) re-queues as pending@1 on the survivor's sync pass and
    // executes to success@2 — exactly one re-queue row, the outcome
    // seeded past it, zero terminal failed rows; the body's row count
    // replays from orders
    "sched_recovery" ->
      """SELECT * FROM (
        |  SELECT 'heal' AS step, 'requeued' AS metric, CAST(1 AS BIGINT) AS value
        |  UNION ALL SELECT 'heal', 'attempt', 2
        |  UNION ALL SELECT 'heal', 'ready', 1
        |  UNION ALL SELECT 'heal', 'rows', (SELECT COUNT(*) FROM orders)
        |  UNION ALL SELECT 'heal', 'failed_rows', 0)""".stripMargin,

    // one feature's whole wire life: the served values are the registered
    // transformation's per-customer revenue (the engine side travels
    // register → daemon materialize → FeatureServe before landing here);
    // sentinel entities: -1 staged-readable after mark, -2 NOT_FOUND after
    // finalize, -3 zero live features remain
    "wire_lifecycle" ->
      """WITH rev AS (
        |  SELECT o_custkey AS entity,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY o_custkey),
        |u AS (SELECT CAST(unnest(generate_series(0, 149)) AS BIGINT) AS entity)
        |SELECT u.entity, r.rev AS f_rev FROM u LEFT JOIN rev r ON u.entity = r.entity
        |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(1 AS DOUBLE)
        |UNION ALL SELECT -2, 1
        |UNION ALL SELECT -3, 1""".stripMargin,

    // one corpus's whole life: wire-registered clean (non-blank text) →
    // cron-minted daemon refresh publishing a versioned snapshot →
    // streaming exact-dedup keepers (min doc_id per md5 fingerprint) →
    // temperature mix weights over survivors → sharded JSONL read-back.
    // The data rows replay the clean + keep-min + weight + shard rules;
    // sentinels: -1 cron-minted trigger, -2 run READY, -3 the daemon's
    // claim-time owner stamp, -4 stream copies == clean count, -5 LATEST
    // pointer resolves to the published snapshot
    "corpus_lifecycle" ->
      s"""WITH clean AS (
         |  SELECT doc_id, source, text FROM documents
         |  WHERE length(trim(text)) > 0),
         |f AS (SELECT doc_id, md5($NORM_TEXT) AS fp FROM clean),
         |k AS (SELECT fp, MIN(doc_id) AS doc_id FROM f GROUP BY fp),
         |surv AS (SELECT c.doc_id, c.source, k.fp, c.text
         |  FROM k JOIN clean c USING (doc_id)),
         |s AS (SELECT source, CAST(SUM(len($TOKS_RAW)) AS BIGINT) AS total_tokens
         |  FROM surv GROUP BY 1),
         |w AS (SELECT source,
         |    round(sqrt(CAST(total_tokens AS DOUBLE)) /
         |      SUM(sqrt(CAST(total_tokens AS DOUBLE))) OVER (), 6) AS weight
         |  FROM s)
         |SELECT surv.doc_id, surv.source, surv.fp,
         |  ${mh63("CAST(surv.doc_id AS VARCHAR)")} % 4 AS shard,
         |  w.weight
         |FROM surv JOIN w USING (source)
         |UNION ALL SELECT CAST(-1 AS BIGINT), '__sentinel__', 'cron_minted',
         |  CAST(0 AS BIGINT), CAST(1 AS DOUBLE)
         |UNION ALL SELECT -2, '__sentinel__', 'run_ready', 0, 1
         |UNION ALL SELECT -3, '__sentinel__', 'owner_stamped', 0, 1
         |UNION ALL SELECT -4, '__sentinel__', 'stream_complete', 0, 1
         |UNION ALL SELECT -5, '__sentinel__', 'versioned_publish', 0, 1""".stripMargin,

    "training_stream" ->
      s"""WITH $EV
         |SELECT event_id, value FROM ev CROSS JOIN (VALUES (0), (1)) epochs(e)""".stripMargin,

    "split_serve" ->
      """SELECT event_id, user_id, value,
        |  CASE WHEN substr(md5(concat_ws('|', CAST(event_id AS VARCHAR), '42')), 1, 8) < '40000000'
        |       THEN 'test' ELSE 'train' END AS role
        |FROM events""".stripMargin,

    "merge_upsert_wide" ->
      s"""WITH $EV,
         |trip AS (
         |  SELECT user_id AS entity, 'f_' || event_type AS feature, value, ts FROM ev
         |  WHERE (event_id < 500 AND event_type IN ('click', 'purchase'))
         |     OR (event_id >= 500 AND event_type IN ('click', 'purchase', 'view'))),
         |latest AS (SELECT entity, feature, value, ts FROM trip
         |  QUALIFY row_number() OVER (PARTITION BY entity, feature ORDER BY ts DESC, value DESC) = 1)
         |SELECT entity,
         |  max(CASE WHEN feature = 'f_click' THEN value END) AS f_click,
         |  max(CASE WHEN feature = 'f_click' THEN epoch_ms(ts) END) AS f_click_ts_ms,
         |  max(CASE WHEN feature = 'f_purchase' THEN value END) AS f_purchase,
         |  max(CASE WHEN feature = 'f_purchase' THEN epoch_ms(ts) END) AS f_purchase_ts_ms,
         |  max(CASE WHEN feature = 'f_view' THEN value END) AS f_view,
         |  max(CASE WHEN feature = 'f_view' THEN epoch_ms(ts) END) AS f_view_ts_ms
         |FROM latest GROUP BY entity""".stripMargin,

    "catalog_persist" ->
      """SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * 0.1 AS DOUBLE) AS rev_tax
        |FROM orders GROUP BY o_custkey""".stripMargin,

    // deterministic catalog + DAG run: the expected lineage document is a
    // literal — edges in registration order, each node's latest run state
    // (f_click fails both attempts; ts1 cascades upstream_failed; the
    // model has no task => NULL status, 0 attempts)
    "lineage_export" ->
      """SELECT * FROM (VALUES
        |  ('events.default', 'source', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'success', CAST(1 AS BIGINT)),
        |  ('clicks.default', 'source', 'events.default', 'source', 'success', CAST(1 AS BIGINT)),
        |  ('f_click.default', 'feature', 'clicks.default', 'source', 'failed', CAST(2 AS BIGINT)),
        |  ('purchase.default', 'label', 'events.default', 'source', 'success', CAST(1 AS BIGINT)),
        |  ('ts1.default', 'training_set', 'purchase.default', 'label', 'upstream_failed', CAST(1 AS BIGINT)),
        |  ('ts1.default', 'training_set', 'f_click.default', 'feature', 'upstream_failed', CAST(1 AS BIGINT)),
        |  ('m1', 'model', 'f_click.default', 'feature', CAST(NULL AS VARCHAR), CAST(0 AS BIGINT)),
        |  ('m1', 'model', 'ts1.default', 'training_set', CAST(NULL AS VARCHAR), CAST(0 AS BIGINT)))
        |  AS t(resource, resource_type, depends_on, dep_type, last_status, n_attempts)""".stripMargin,

    // the engine emits ok=1 only if IVF recall@10 >= 0.5 vs the exact
    // baseline — the oracle pins the expected assertion row
    "ann_topk_ivf" ->
      "SELECT 'recall_at_10_ge_0.5' AS metric, CAST(1 AS BIGINT) AS ok",

    // every dimension below is what the engine ENCODED before decoding — the
    // oracle re-derives them arithmetically, proving the codec round-trip;
    // lum_sum recomputes the per-PIXEL integer luminance of the synthetic
    // image formula (PNG lossless ⇒ decoded pixels must match exactly)
    "media_pipeline" ->
      """WITH img AS (
        |  SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id * 7) % 24 AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (SELECT doc_id, h, unnest(generate_series(0, w - 1)) AS x FROM img),
        |pxy AS (SELECT doc_id, x, unnest(generate_series(0, h - 1)) AS y FROM px),
        |lum AS (
        |  SELECT doc_id, SUM((299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
        |      + 114 * (v & 255)) // 1000) AS lum_sum
        |  FROM (SELECT doc_id, (x * 31 + y * 17 + doc_id * 131) & 16777215 AS v FROM pxy)
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 8 + d.doc_id % 24 ELSE 0 END AS BIGINT) AS width,
        |  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 8 + (d.doc_id * 7) % 24 ELSE 0 END AS BIGINT) AS height,
        |  CAST(CASE WHEN d.doc_id % 2 = 1 THEN 8000 + (d.doc_id % 8) * 1000 ELSE 0 END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 1000 + d.doc_id % 500 END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 12 ELSE -1 END AS BIGINT) AS resized_w,
        |  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 9 ELSE -1 END AS BIGINT) AS resized_h,
        |  CAST(COALESCE(lum.lum_sum, -1) AS BIGINT) AS lum_sum
        |FROM documents d LEFT JOIN lum ON d.doc_id = lum.doc_id""".stripMargin,

    // the streaming latest-value state must converge to the batch
    // materialization — the oracle IS the batch latest
    "streaming_latest" ->
      s"""WITH $EV
         |SELECT user_id AS entity, value, epoch_ms(ts) AS ts_ms FROM ev
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1""".stripMargin,

    // the online store fed BY the stream must hold exactly the batch
    // materialization — same oracle as streaming_latest, now asserted on
    // the serving store's own state rather than the emission log
    // streaming vector upkeep: the store state after initial + overwrite
    // streams ≡ embeddings with the vec_id%10==0 negation applied; exact
    // scan cosine, same operand order as OnlineStore.nearestScan
    // (dot(corpus, query) / (sqrt(|corpus|²)·sqrt(|query|²)))
    "stream_vector_serve" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |eff AS (SELECT vec_id,
        |    CASE WHEN vec_id % 10 = 0 THEN list_transform(v, y -> -y)
        |         ELSE v END AS v FROM base),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM eff
        |  WHERE vec_id IN (1, 2, 10)),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(e.v, q.qv) /
        |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS sim
        |  FROM eff e CROSS JOIN q),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(sim, 6) AS cosine,
        |  CAST(rnk AS BIGINT) AS rank
        |FROM ranked WHERE rnk <= 5""".stripMargin,

    "stream_online_serve" ->
      s"""WITH $EV
         |SELECT user_id AS entity, value, epoch_ms(ts) AS ts_ms FROM ev
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1""".stripMargin,

    // deterministic orchestration ledger: flaky task retried to success,
    // resume skips (not recorded), doomed task exhausts attempts
    "task_runs" ->
      """SELECT * FROM (VALUES
        |  ('materialize', CAST(1 AS BIGINT), 'failed'),
        |  ('materialize', CAST(2 AS BIGINT), 'failed'),
        |  ('materialize', CAST(3 AS BIGINT), 'success'),
        |  ('doomed', CAST(1 AS BIGINT), 'failed'),
        |  ('doomed', CAST(2 AS BIGINT), 'failed'),
        |  ('doomed', CAST(3 AS BIGINT), 'failed')) AS t(task, attempt, status)""".stripMargin,

    // embedding audit: dims/zero/non-finite flags in one pass, norms via
    // list_dot_product, nearest-rank median per group
    "embedding_audit" ->
      """WITH b AS (SELECT label AS g, vec_id,
        |    CASE WHEN len(embedding) <> 8 THEN 1 ELSE 0 END AS bad,
        |    CASE WHEN NOT list_bool_or(
        |      list_transform(embedding, x -> x <> 0)) THEN 1 ELSE 0 END
        |      AS z,
        |    CASE WHEN list_bool_or(
        |      list_transform(embedding, x -> isnan(x) OR isinf(x)))
        |      THEN 1 ELSE 0 END AS nf,
        |    round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))), 6) AS nrm
        |  FROM embeddings),
        |r AS (SELECT g, bad, z, nf, nrm,
        |    row_number() OVER (PARTITION BY g ORDER BY nrm, vec_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM b)
        |SELECT g, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(SUM(bad) AS BIGINT) AS n_bad_dim,
        |  CAST(SUM(z) AS BIGINT) AS n_zero,
        |  CAST(SUM(nf) AS BIGINT) AS n_nonfinite,
        |  MIN(CASE WHEN rk = (n + 1) // 2 THEN nrm END) AS p50_norm
        |FROM r GROUP BY 1""".stripMargin,

    // join advisor: one rollup (all three strategies are result-identical
    // by construction), strategies pinned from the deterministic stats
    "adaptive_join" ->
      s"""WITH $EV,
         |dimseg AS (SELECT user_id, user_id % 7 AS segment
         |  FROM (SELECT DISTINCT user_id FROM ev)),
         |ru AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         |  FROM ev JOIN dimseg USING (user_id) GROUP BY 1)
         |SELECT segment, n, total, c.config, c.strategy
         |FROM ru, (VALUES ('default', 'broadcast'),
         |  ('nobroadcast', 'shuffle'), ('skewsensitive', 'salted'))
         |  c(config, strategy)""".stripMargin,

    // cold-start fallback: the pit_purchases replay with NULL features
    // filled from the global click prior
    "pit_cold_start" ->
      s"""SELECT user_id, ts_ms,
         |  CAST(CASE WHEN f_click IS NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS was_cold,
         |  COALESCE(f_click, pr.p) AS f_click_filled, label
         |FROM ($pitPurchasesSql) b,
         |  (SELECT round(CAST(SUM(CAST(value AS DECIMAL(18,2)))
         |      AS DOUBLE) / COUNT(*), 6) AS p
         |   FROM events WHERE event_type = 'click') pr""".stripMargin,

    // FK audit: per edge, exact counts + a distinct-key anti-join
    "fk_audit" -> Seq(
      ("lineitem.orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      ("orders.custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      ("lineitem.partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      ("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"))
      .map { case (name, child, ck, parent, pk) =>
        s"""SELECT '$name' AS edge,
           |  CAST(COUNT(*) AS BIGINT) AS n_child,
           |  CAST(COUNT(DISTINCT $ck) AS BIGINT) AS n_keys,
           |  CAST(COUNT(*) - COUNT($ck) AS BIGINT) AS n_null_fk,
           |  (SELECT CAST(COUNT(*) AS BIGINT)
           |   FROM (SELECT DISTINCT $ck AS k FROM $child
           |         WHERE $ck IS NOT NULL) c
           |   LEFT JOIN $parent p ON c.k = p.$pk
           |   WHERE p.$pk IS NULL) AS n_dangling_keys
           |FROM $child""".stripMargin
      }.mkString("\nUNION ALL\n"),

    // feature freshness: latest-per-entity staleness minutes, nearest-rank
    // p50/p90 under the (staleness, entity) order
    "feature_freshness" ->
      s"""WITH $EV,
         |latest AS (SELECT event_type AS g, user_id AS e,
         |    MAX(epoch_ms(ts)) AS ms FROM ev GROUP BY 1, 2),
         |ao AS (SELECT MAX(epoch_ms(ts)) AS a FROM ev),
         |stale AS (SELECT g, e, (a - ms) // 60000 AS st FROM latest, ao),
         |r AS (SELECT g, st,
         |    row_number() OVER (PARTITION BY g ORDER BY st, e) AS rk,
         |    COUNT(*) OVER (PARTITION BY g) AS n
         |  FROM stale)
         |SELECT g, CAST(MIN(n) AS BIGINT) AS n_entities,
         |  CAST(MIN(CASE WHEN rk = (n * 50 + 99) // 100 THEN st END)
         |    AS BIGINT) AS p50_stale_min,
         |  CAST(MIN(CASE WHEN rk = (n * 90 + 99) // 100 THEN st END)
         |    AS BIGINT) AS p90_stale_min
         |FROM r
         |WHERE rk = (n * 50 + 99) // 100 OR rk = (n * 90 + 99) // 100
         |GROUP BY 1""".stripMargin,

    // BM25 rank stability: both parameterizations replayed verbatim,
    // Kendall over the common docs in exact integers
    "rank_stability" ->
      s"""WITH ${bm25RankCtes("a", "1.2", "0.25", "0.75", 20)},
         |${bm25RankCtes("b", "2.0", "0.75", "0.25", 20)},
         |cmn AS (SELECT a.doc_id, ra, rb
         |  FROM rka a JOIN rkb b USING (doc_id)),
         |cnt AS (SELECT
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rka) AS na,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rkb) AS nb,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cmn) AS nc),
         |pr AS (SELECT CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0
         |    THEN 1 ELSE -1 END AS s
         |  FROM cmn x JOIN cmn y ON x.doc_id < y.doc_id)
         |SELECT na AS n_a, nb AS n_b, nc AS n_common,
         |  CASE WHEN na + nb - nc = 0 THEN NULL
         |       ELSE round(CAST(nc AS DOUBLE) / (na + nb - nc), 6) END
         |    AS jaccard,
         |  round(CAST((SELECT SUM(s) FROM pr) AS DOUBLE) /
         |    ((nc * (nc - 1)) // 2), 6) AS kendall_tau
         |FROM cnt""".stripMargin,

    // held-out unigram perplexity: Laplace model from the md5-even half,
    // per-token NLL pinned round(·,9)→DECIMAL, one exp at the end
    "heldout_perplexity" ->
      s"""WITH toks AS (SELECT doc_id,
         |    ${mh63("CAST(doc_id AS VARCHAR) || '|ppl'")} % 2 AS split,
         |    unnest($TOKS_LOWER) AS token
         |  FROM documents),
         |train AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM toks
         |  WHERE split = 0 GROUP BY 1),
         |st AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(COUNT(*) AS BIGINT) AS v FROM train),
         |nll AS (SELECT CAST(round(-ln(
         |      CAST(COALESCE(c, 0) + 1 AS DOUBLE) /
         |      CAST(n + v + 1 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS t
         |  FROM (SELECT token FROM toks WHERE split = 1) e
         |  LEFT JOIN train USING (token), st)
         |SELECT st.n AS n_train_tokens, st.v AS vocab,
         |  CAST(COUNT(*) AS BIGINT) AS n_eval_tokens,
         |  round(CAST(SUM(t) AS DOUBLE) / COUNT(*), 6) AS avg_nll,
         |  round(exp(CAST(SUM(t) AS DOUBLE) / COUNT(*)), 6) AS perplexity
         |FROM nll, st GROUP BY 1, 2""".stripMargin,

    // padding waste: ⌈n/b⌉·b integer arithmetic per bucket, one rounded
    // division per output row
    "pad_waste" ->
      s"""WITH d AS (SELECT CAST(len($TOKS_RAW) AS BIGINT) AS n
         |  FROM documents WHERE len($TOKS_RAW) > 0),
         |e AS (SELECT b, n, ((n + b - 1) // b) * b AS padded
         |  FROM d, (SELECT CAST(unnest([32, 64, 128]) AS BIGINT) AS b))
         |SELECT b AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS total_tokens,
         |  CAST(SUM(padded) AS BIGINT) AS total_padded,
         |  round(1.0 - CAST(SUM(n) AS DOUBLE) /
         |    CAST(SUM(padded) AS DOUBLE), 6) AS waste_frac
         |FROM e GROUP BY 1""".stripMargin,

    // DAG ledger: deterministic topo order (lexicographic Kahn), clean
    // fails both attempts, its downstream cascade-skips, siblings run
    "dag_runs" ->
      """SELECT * FROM (VALUES
        |  ('ingest', CAST(1 AS BIGINT), 'success'),
        |  ('clean', CAST(1 AS BIGINT), 'failed'),
        |  ('clean', CAST(2 AS BIGINT), 'failed'),
        |  ('features', CAST(1 AS BIGINT), 'success'),
        |  ('train', CAST(0 AS BIGINT), 'upstream_failed'),
        |  ('report', CAST(0 AS BIGINT), 'upstream_failed'))
        |  AS t(task, attempt, status)""".stripMargin,

    // tokenizer efficiency: the full BPE train+encode replay rolled up
    // per source (chars per BPE token)
    "bpe_efficiency" ->
      s"""SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
         |  CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS total_tokens,
         |  round(CAST(SUM(d.n_chars) AS DOUBLE) /
         |    CAST(SUM(e.n_bpe_tokens) AS DOUBLE), 6) AS chars_per_token
         |FROM (${bpeEncodeSql(12)}) e JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin,

    // each event lands in exactly two 10-min windows on the 5-min grid
    "windowed_counts" ->
      s"""WITH $EV,
         |w AS (SELECT user_id AS entity, epoch_ms(ts) AS ms FROM ev),
         |k AS (SELECT entity, ms, unnest([ms // 300000, ms // 300000 - 1]) AS wk FROM w)
         |SELECT CAST(wk * 300000 AS BIGINT) AS ws_ms, entity, COUNT(*) AS n
         |FROM k GROUP BY 1, 2""".stripMargin,

    // the streaming as-of emission set must equal the batch as-of join
    "stream_asof" ->
      s"""WITH $EV,
         |lbl AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase'),
         |lkey AS (SELECT DISTINCT user_id, ts FROM lbl),
         |fc AS (SELECT user_id AS e, ts AS fts, value AS v FROM ev WHERE event_type = 'click'),
         |pc AS (
         |  SELECT l.user_id, l.ts, f.v FROM lkey l
         |  LEFT JOIN fc f ON l.user_id = f.e AND f.fts <= l.ts
         |  QUALIFY row_number() OVER (PARTITION BY l.user_id, l.ts ORDER BY f.fts DESC, f.v DESC) = 1)
         |SELECT l.user_id AS entity, epoch_ms(l.ts) AS ts_ms, l.value AS label,
         |  pc.v AS feature
         |FROM lbl l LEFT JOIN pc ON l.user_id = pc.user_id AND l.ts = pc.ts""".stripMargin,

    // the salted join must equal the plain join — the oracle IS the plain join
    "skew_salted_join" ->
      """SELECT l.l_orderkey AS o_orderkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  MAX(o.o_totalprice) AS o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,

    // custom exprs called from SQL: the oracle recomputes both values
    // independently (substr-shingle jaccard; md5-vote simhash)
    "q_custom_fn" ->
      s"""WITH $simhashCtes,
         |d AS (SELECT doc_id, $NORM_TEXT AS nt FROM documents),
         |kg AS (SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(length(nt) - 4, 0)), i -> substr(nt, i, 5))) AS ks FROM d)
         |SELECT a.doc_id,
         |  round(len(list_intersect(a.ks, b.ks)) /
         |    (len(a.ks) + len(b.ks) - len(list_intersect(a.ks, b.ks))), 6) AS next_jaccard,
         |  CAST(s.h AS VARCHAR) AS simhash
         |FROM kg a JOIN kg b ON b.doc_id = a.doc_id + 1
         |JOIN sims s ON s.doc_id = a.doc_id""".stripMargin,

    // full replay of the winnowing near-dup pipeline (k=20, window=24,
    // >= 3 shared fingerprints)
    "winnow_near_dups" ->
      s"""WITH d AS (SELECT doc_id, $NORM_TEXT AS nt FROM documents),
         |pos AS (SELECT doc_id, nt, greatest(length(nt) - 19, 0) AS m,
         |    unnest(generate_series(1, greatest(length(nt) - 19, 0))) AS i FROM d),
         |wh AS (SELECT doc_id, m, i, ${mh63("substr(nt, i, 20)")} AS h FROM pos),
         |wm AS (SELECT doc_id, m, i, min(h) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS mh FROM wh),
         |sel0 AS (SELECT DISTINCT doc_id, mh FROM wm WHERE i <= greatest(m - 24, 0) + 1),
         |sel AS (SELECT * FROM sel0
         |  QUALIFY COUNT(*) OVER (PARTITION BY mh) <= 2000)
         |SELECT a.doc_id AS idA, b.doc_id AS idB, CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM sel a JOIN sel b ON a.mh = b.mh AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,

    // incremental k-means: the codebook's 2 Lloyd's rounds replayed on
    // the train split, the held-out batch assigned against the FINAL
    // centroids — persisted-model assignment ≡ the replayed training
    "incremental_kmeans" ->
      s"""WITH ${kmeansCtes(8, 2, where = "vec_id % 5 <> 0")},
         |nb AS (SELECT vec_id, embedding AS v FROM embeddings
         |  WHERE vec_id % 5 = 0)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM (
         |  SELECT nb.vec_id, c.cell,
         |    list_dot_product(CAST(nb.v AS DOUBLE[]),
         |      list_transform(c.cv,
         |        y -> y / sqrt(list_dot_product(c.cv, c.cv)))) AS sim
         |  FROM nb CROSS JOIN c2 c)
         |QUALIFY row_number() OVER (PARTITION BY vec_id
         |  ORDER BY sim DESC, cell DESC) = 1""".stripMargin,

    // containment: the winnow candidate stage (minShared 2) replayed,
    // then |grams(small) ∩ grams(big)| / |grams(small)| over the SAME
    // normalized text (set relations only — hashes cancel)
    "containment_pairs" ->
      s"""WITH d AS (SELECT doc_id, $NORM_TEXT AS nt FROM documents),
         |pos AS (SELECT doc_id, nt, greatest(length(nt) - 19, 0) AS m,
         |    unnest(generate_series(1, greatest(length(nt) - 19, 0))) AS i FROM d),
         |wh AS (SELECT doc_id, m, i, ${mh63("substr(nt, i, 20)")} AS h FROM pos),
         |wm AS (SELECT doc_id, m, i, min(h) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS mh FROM wh),
         |sel0 AS (SELECT DISTINCT doc_id, mh FROM wm WHERE i <= greatest(m - 24, 0) + 1),
         |sel AS (SELECT * FROM sel0
         |  QUALIFY COUNT(*) OVER (PARTITION BY mh) <= 2000),
         |cand AS (SELECT a.doc_id AS idA, b.doc_id AS idB,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM sel a JOIN sel b ON a.mh = b.mh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |gs AS (SELECT doc_id, length(nt) AS len,
         |    list_distinct(list_transform(
         |      generate_series(1, greatest(length(nt) - 19, 0)),
         |      i -> substr(nt, i, 20))) AS ks
         |  FROM d),
         |pairs AS (SELECT
         |    CASE WHEN ga.len < gb.len OR (ga.len = gb.len AND idA < idB)
         |         THEN idA ELSE idB END AS id_small,
         |    CASE WHEN ga.len < gb.len OR (ga.len = gb.len AND idA < idB)
         |         THEN idB ELSE idA END AS id_big,
         |    n_shared,
         |    CASE WHEN ga.len < gb.len OR (ga.len = gb.len AND idA < idB)
         |         THEN CASE WHEN len(ga.ks) = 0 THEN 0.0
         |           ELSE round(len(list_intersect(ga.ks, gb.ks)) * 1.0 /
         |             len(ga.ks), 6) END
         |         ELSE CASE WHEN len(gb.ks) = 0 THEN 0.0
         |           ELSE round(len(list_intersect(gb.ks, ga.ks)) * 1.0 /
         |             len(gb.ks), 6) END END AS containment
         |  FROM cand
         |  JOIN gs ga ON ga.doc_id = idA
         |  JOIN gs gb ON gb.doc_id = idB)
         |SELECT id_small, id_big, n_shared, containment FROM pairs
         |WHERE containment >= 0.5""".stripMargin,

    // Stupid Backoff: train tables from the md5-even half, held-out docs
    // scored with ln of exact ratios pinned round(·,9)→DECIMAL
    "stupid_backoff" ->
      s"""WITH sp AS (SELECT doc_id, $TOKS_LOWER AS toks,
         |    ${mh63("CAST(doc_id AS VARCHAR) || '|sb'")} % 2 AS s
         |  FROM documents),
         |bi AS (SELECT g AS bigram, CAST(COUNT(*) AS BIGINT) AS c12
         |  FROM (SELECT unnest(list_transform(
         |      generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS g
         |    FROM sp WHERE s = 0)
         |  GROUP BY 1),
         |uni AS (SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(toks) AS t FROM sp WHERE s = 0) GROUP BY 1),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT unnest(toks) AS t FROM sp WHERE s = 0)),
         |ev2 AS (SELECT doc_id, g AS bigram,
         |    split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(
         |      generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS g
         |    FROM sp WHERE s = 1)),
         |sc AS (SELECT doc_id,
         |    CASE WHEN bi.c12 IS NULL THEN 1 ELSE 0 END AS bo,
         |    CAST(CASE WHEN bi.c12 IS NOT NULL
         |      THEN round(ln(CAST(bi.c12 AS DOUBLE) /
         |        CAST(u1.c AS DOUBLE)), 9)
         |      ELSE round(ln(0.4 *
         |        (CAST(COALESCE(u2.c, 0) + 1 AS DOUBLE) /
         |         CAST(n + 1 AS DOUBLE))), 9) END AS DECIMAL(18,9)) AS s
         |  FROM ev2
         |  LEFT JOIN bi USING (bigram)
         |  LEFT JOIN uni u1 ON u1.token = ev2.w1
         |  LEFT JOIN uni u2 ON u2.token = ev2.w2, nn)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(bo) AS BIGINT) AS n_backoff,
         |  round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS avg_logscore
         |FROM sc GROUP BY 1""".stripMargin,

    // the bucketed co-located join must equal the plain join
    "bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_cust,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "minhash_near_dups"   -> minhashNearDupsSql,
    // MinHash recall vs exact ground truth on the fixed 500-doc audit
    // panel; the pred side reuses the full LSH replica restricted to it
    "dedup_pr_eval" ->
      s"""WITH truth AS MATERIALIZED (
         |  WITH d AS (SELECT doc_id, $NORM_TEXT AS nt FROM documents
         |    WHERE doc_id < 500),
         |  kg AS (SELECT doc_id, list_distinct(list_transform(
         |      generate_series(1, greatest(length(nt) - 4, 0)),
         |      i -> substr(nt, i, 5))) AS ks FROM d),
         |  gx AS (SELECT doc_id, len(ks) AS n, unnest(ks) AS g FROM kg),
         |  inter AS (SELECT a.doc_id AS idA, b.doc_id AS idB,
         |      any_value(a.n) AS na, any_value(b.n) AS nb, COUNT(*) AS i
         |    FROM gx a JOIN gx b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2)
         |  -- gram-join form of all-pairs distinct-5-gram Jaccard: pairs
         |  -- sharing zero grams have jaccard 0 < 0.5 and drop correctly;
         |  -- value-identical to the list_intersect pairwise scan at ~20x
         |  -- less oracle CPU
         |  SELECT idA, idB FROM inter
         |  WHERE i / (na + nb - i) >= 0.5),
         |pred AS MATERIALIZED (SELECT idA, idB FROM
         |  (${minhashNearDupsSql("doc_id < 500")}) p),
         |counts AS (SELECT
         |  (SELECT COUNT(*) FROM truth) AS n_true,
         |  (SELECT COUNT(*) FROM pred) AS n_pred,
         |  (SELECT COUNT(*) FROM pred p JOIN truth t
         |     ON p.idA = t.idA AND p.idB = t.idB) AS n_hit)
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_pred AS BIGINT) AS n_pred,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  round(CASE WHEN n_pred = 0 THEN 1.0
         |    ELSE CAST(n_hit AS DOUBLE) / n_pred END, 6) AS prec,
         |  round(CASE WHEN n_true = 0 THEN 1.0
         |    ELSE CAST(n_hit AS DOUBLE) / n_true END, 6) AS recall
         |FROM counts""".stripMargin,
    "simhash_near_dups"   -> simhashNearDupsSql,
    "simhash_near_dups_bounded" -> simhashNearDupsBoundedSql,
    // streaming near-dup detection shares the bounded batch oracle: the
    // quarter-band pigeonhole gives FULL recall at Hamming <= 3, so the
    // streamed distinct pair set must equal all-pairs exactly
    "stream_dedup" -> simhashNearDupsBoundedSql,
    // TTL mode: event time = 2024-01-01 + (doc_id % 1440) minutes, pairs
    // only within a 30-minute window — the ts filter reduces to a pure
    // doc_id predicate the oracle replays exactly (watermark delay spans
    // the whole ts range, so stream pruning never bites at the gate)
    "stream_dedup_ttl" ->
      s"""WITH $simhashCtes
         |SELECT x.doc_id AS idA, y.doc_id AS idB,
         |  CAST(bit_count(xor(x.h, y.h)) AS BIGINT) AS hamming
         |FROM sims x JOIN sims y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.h, y.h)) <= 3
         |  AND abs((x.doc_id % 1440) - (y.doc_id % 1440)) <= 30""".stripMargin,
    // incremental bounded variant: same full-recall guarantee, restricted
    // to pairs touching the new batch (doc_id % 5 = 4)
    "incremental_simhash_bounded" ->
      s"""WITH $simhashCtes
         |SELECT x.doc_id AS idA, y.doc_id AS idB,
         |  CAST(bit_count(xor(x.h, y.h)) AS BIGINT) AS hamming
         |FROM sims x JOIN sims y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.h, y.h)) <= 3
         |  AND (x.doc_id % 5 = 4 OR y.doc_id % 5 = 4)""".stripMargin,
    "simhash_fingerprint" -> simhashFingerprintSql,
    "cosine_near_dups"    -> cosineNearDupsSql,

    // compaction rewrites layout, never data: per-day rollup of the
    // compacted table == direct recompute over the source
    "compact_roundtrip" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
        |GROUP BY 1""".stripMargin,

    // hash-bucketed versioned write round-trips content exactly
    "hash_partitioned_write" ->
      "SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS acctbal FROM customer",

    // exact substr-shingle jaccard over consecutive-id pairs (k=3); same
    // replay as q_custom_fn's kgram term
    "ngram_jaccard_pairs" ->
      s"""WITH d AS (SELECT doc_id, $NORM_TEXT AS nt FROM documents),
         |kg AS (SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(length(nt) - 2, 0)), i -> substr(nt, i, 3))) AS ks FROM d)
         |SELECT a.doc_id AS idA, b.doc_id AS idB,
         |  round(len(list_intersect(a.ks, b.ks)) /
         |    (len(a.ks) + len(b.ks) - len(list_intersect(a.ks, b.ks))), 6) AS jaccard
         |FROM kg a JOIN kg b ON b.doc_id = a.doc_id + 1""".stripMargin,

    // serving ANN: self-hit + recall>=0.9 vs the linear scan, asserted
    // Spark-side on a deterministic clustered corpus; the oracle pins the
    // expected checked row
    "vector_index_serve" ->
      "SELECT 'vector_index_recall_ge_0.9' AS metric, CAST(1 AS BIGINT) AS ok",

    // metadata lineage over a persisted+reloaded catalog: pinned VALUES
    // (the catalog content is fully declared by the query itself)
    "catalog_lineage" ->
      """SELECT * FROM (VALUES
        |  ('features_of_model', 'churn_model', 'f_rev.default'),
        |  ('features_of_model', 'churn_model', 'f_cnt.default'),
        |  ('features_of_model', 'fraud_model', 'f_rev.default'),
        |  ('models_consuming', 'f_rev.default', 'churn_model'),
        |  ('models_consuming', 'f_rev.default', 'fraud_model'),
        |  ('tagged_core', 'SOURCE', 'cust_rev.default'),
        |  ('tagged_core', 'FEATURE', 'f_rev.default'),
        |  ('provider_type', 'local_spark', 'SPARK_OFFLINE'),
        |  ('provider_prop_team', 'local_spark', 'data'),
        |  ('registered_user', 'alice', '-')
        |) AS t(query, subject, related)""".stripMargin,

    // free-text catalog search over the same fixture: prefix-match token
    // scoring, rank = (score desc, kind, id) — expected ranking pinned
    // (hand-derived from the fixture's token bags)
    "catalog_search" ->
      """SELECT * FROM (VALUES
        |  ('rev', CAST(1 AS BIGINT), 'FEATURE', 'f_rev.default', CAST(1 AS BIGINT)),
        |  ('rev', CAST(2 AS BIGINT), 'SOURCE', 'cust_rev.default', CAST(1 AS BIGINT)),
        |  ('core pii', CAST(1 AS BIGINT), 'FEATURE', 'f_rev.default', CAST(2 AS BIGINT)),
        |  ('core pii', CAST(2 AS BIGINT), 'SOURCE', 'cust_rev.default', CAST(1 AS BIGINT)),
        |  ('spark data', CAST(1 AS BIGINT), 'PROVIDER', 'local_spark', CAST(2 AS BIGINT)),
        |  ('churn', CAST(1 AS BIGINT), 'MODEL', 'churn_model', CAST(1 AS BIGINT)),
        |  ('churn', CAST(2 AS BIGINT), 'TRAINING_SET', 'ts_churn.default', CAST(1 AS BIGINT)),
        |  ('cust', CAST(1 AS BIGINT), 'ENTITY', 'customer', CAST(1 AS BIGINT)),
        |  ('cust', CAST(2 AS BIGINT), 'FEATURE', 'f_cnt.default', CAST(1 AS BIGINT)),
        |  ('cust', CAST(3 AS BIGINT), 'FEATURE', 'f_rev.default', CAST(1 AS BIGINT)),
        |  ('cust', CAST(4 AS BIGINT), 'LABEL', 'l_big.default', CAST(1 AS BIGINT)),
        |  ('cust', CAST(5 AS BIGINT), 'SOURCE', 'cust_rev.default', CAST(1 AS BIGINT))
        |) AS t(query, rank, kind, id, score)""".stripMargin,

    // cron-driven two-tick orchestrated refresh == full recompute, with
    // exactly two successful runs in the ledger
    "orchestrated_refresh" ->
      s"""WITH $EV
         |SELECT user_id AS entity, value, epoch_ms(ts) AS ts_ms,
         |  CAST(2 AS BIGINT) AS n_runs FROM ev
         |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) = 1""".stripMargin,

    // ------------------------- sequence packing / unigram LM / corpus stats

    // concatenate-and-chunk packing: md5 shard, per-shard cumulative token
    // offsets, 512-token boundary cuts — all integer arithmetic, replayed
    // exactly (floor() is explicit: DuckDB CAST(double AS BIGINT) rounds,
    // Spark truncates)
    "seq_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % $M63 AS BIGINT) % 8 AS shard,
         |    CAST(len($TOKS_RAW) AS BIGINT) AS n
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n,
         |    CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
         |  FROM d WHERE n > 0),
         |e AS (
         |  SELECT doc_id, shard, n, cum,
         |    unnest(generate_series(CAST(floor((cum - n) / 512) AS BIGINT),
         |                           CAST(floor((cum - 1) / 512) AS BIGINT))) AS seq
         |  FROM c)
         |SELECT doc_id, shard, seq,
         |  CAST(least((seq + 1) * 512, cum) - greatest(seq * 512, cum - n) AS BIGINT)
         |    AS toks_in_seq
         |FROM e""".stripMargin,

    // first-fit greedy packing: the sequential running-capacity fold
    // replayed as a recursive CTE stepping every shard's doc-rank in
    // lockstep (depth = max docs per shard; 8 rows per step)
    "seq_pack_greedy" ->
      s"""WITH RECURSIVE b AS (
         |  SELECT doc_id,
         |    CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % $M63 AS BIGINT) % 8 AS shard,
         |    CAST(len($TOKS_RAW) AS BIGINT) AS n
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, shard, n,
         |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rk
         |  FROM b WHERE n > 0),
         |rec AS (
         |  SELECT doc_id, shard, rk, n, CAST(0 AS BIGINT) AS seq, n AS fill
         |  FROM d WHERE rk = 1
         |  UNION ALL
         |  SELECT d.doc_id, d.shard, d.rk, d.n,
         |    CASE WHEN r.fill + d.n <= 512 THEN r.seq ELSE r.seq + 1 END,
         |    CASE WHEN r.fill + d.n <= 512 THEN r.fill + d.n ELSE d.n END
         |  FROM rec r JOIN d ON d.shard = r.shard AND d.rk = r.rk + 1)
         |SELECT doc_id, shard, seq, n AS n_toks FROM rec""".stripMargin,

    // unigram corpus-frequency score: integer token/frequency sums, exact
    // ratios rounded at the end — no float accumulation order anywhere
    "unigram_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, unnest($TOKS_LOWER) AS token FROM documents),
         |f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY 1)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_toks,
         |  CAST(SUM(freq) AS BIGINT) AS sum_freq,
         |  CAST(SUM(CASE WHEN freq < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         |  round(CAST(SUM(freq) AS DOUBLE) / COUNT(*), 6) AS mean_freq,
         |  round(CAST(SUM(CASE WHEN freq < 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         |    AS rare_ratio
         |FROM tok JOIN f USING (token)
         |GROUP BY doc_id""".stripMargin,

    // order-2 corpus-frequency score: bigram table + per-doc integer sums
    "bigram_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
         |bg AS (SELECT doc_id,
         |    unnest(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
         |  FROM tok),
         |f AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS freq FROM bg GROUP BY 1)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(freq) AS BIGINT) AS sum_freq,
         |  CAST(SUM(CASE WHEN freq < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         |  round(CAST(SUM(freq) AS DOUBLE) / COUNT(*), 6) AS mean_freq,
         |  round(CAST(SUM(CASE WHEN freq < 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         |    AS rare_ratio
         |FROM bg JOIN f USING (bigram)
         |GROUP BY doc_id""".stripMargin,

    // gap-based sessionization: gaps-and-islands replay of session_window
    // (break when diff > gap — Spark MERGES touching sessions: an event at
    // exactly prev+gap extends, probed in SessionizeSpec)
    "session_stats" -> sessionStatsSql,

    // perceptual image near-dups: the aHash is an arithmetic function of
    // the synthetic pixels (PNG is lossless, so the Spark side's REAL
    // decode yields exactly these integers); banding/verify replays the
    // shared Hamming core (quarter pigeonhole, bit_count ≤ 4)
    "image_near_dups" -> imageNearDupsSql("TRUE"),

    // incremental image dedup: full-corpus replay restricted to pairs
    // touching the new batch (old–old pairs are excluded by construction
    // on the Spark side; the union-table cap equals the full-corpus cap)
    "incremental_image_dedup" ->
      imageNearDupsSql("(idA % 10 = 8 OR idB % 10 = 8)"),


    // count-min sketch (depth 4 × width 16) rebuilt from the same md5 cells;
    // pure integer arithmetic — estimates are MIN over rebuilt counters
    "cms_heavy_hitters" -> {
      val bkt = mh63("'cms|' || CAST(r AS VARCHAR) || '|' || token") + " % 16"
      s"""WITH tok AS (SELECT unnest($TOKS_LOWER) AS token FROM documents),
         |rs AS (SELECT unnest(generate_series(0, 3)) AS r),
         |cells AS (SELECT token, r, $bkt AS bucket FROM tok CROSS JOIN rs),
         |sketch AS (SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM cells GROUP BY 1, 2),
         |exact AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
         |  FROM tok GROUP BY 1),
         |pc AS (SELECT DISTINCT token, r, $bkt AS bucket
         |  FROM tok CROSS JOIN rs),
         |est AS (SELECT token,
         |    CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS cms_est
         |  FROM pc LEFT JOIN sketch USING (r, bucket) GROUP BY 1)
         |SELECT token, exact_cnt, cms_est FROM exact JOIN est USING (token)"""
        .stripMargin
    },

    // JL random projection 64->16: the Achlioptas matrix re-derived from the
    // same md5 stream (sqrt(3.0/16) is correctly-rounded IEEE in both
    // engines); projected components and norms are sequential
    // list_dot_product folds ≡ Spark's zip_with/aggregate
    "embedding_project" -> {
      val comp = "CASE (" + mh63(
        "'rp|' || CAST(j AS VARCHAR) || '|' || CAST(i AS VARCHAR)") +
        " % 6) WHEN 0 THEN sqrt(3.0/16) WHEN 1 THEN -sqrt(3.0/16) " +
        "ELSE 0.0 END"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |p AS (SELECT vec_id, v,
         |    list_transform(generate_series(0, 15), j ->
         |      list_dot_product(v,
         |        list_transform(generate_series(0, len(v) - 1),
         |          i -> $comp))) AS proj
         |  FROM e)
         |SELECT vec_id,
         |  round(proj[1], 6) AS y0,
         |  round(list_dot_product(proj, proj), 6) AS proj_norm2,
         |  round(list_dot_product(v, v), 6) AS orig_norm2,
         |  round(list_dot_product(proj, proj) / list_dot_product(v, v), 6)
         |    AS distortion
         |FROM p""".stripMargin
    },

    // DSIR importance weights: md5-bucketed uni+bigram counts (integers),
    // add-1-smoothed log ratios rounded to 9 dp and FIXED as DECIMAL(18,9),
    // then an exact decimal dot product rounded in decimal space — the
    // operand precisions mirror the Spark side so neither engine loses scale
    "dsir_weights" ->
      s"""WITH tok AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_concat(toks,
         |    list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1]))) AS gram
         |  FROM tok),
         |db AS (SELECT doc_id, ${mh63("gram")} % 4096 AS b FROM g),
         |dc AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM db GROUP BY 1, 2),
         |raw AS (SELECT b, CAST(SUM(c) AS BIGINT) AS r FROM dc GROUP BY 1),
         |tg AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tc
         |  FROM db JOIN (SELECT doc_id FROM documents WHERE lang = 'en')
         |    USING (doc_id)
         |  GROUP BY b),
         |tot AS (SELECT (SELECT SUM(r) FROM raw) AS rtot,
         |    (SELECT COALESCE(SUM(tc), 0) FROM tg) AS ttot),
         |lam AS (SELECT raw.b,
         |    CAST(round(ln((COALESCE(tc, 0) + 1.0) / (ttot + 4096)) -
         |               ln((r + 1.0) / (rtot + 4096)), 9)
         |      AS DECIMAL(18,9)) AS lam
         |  FROM raw LEFT JOIN tg USING (b) CROSS JOIN tot)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         |  CAST(round(SUM(CAST(c AS DECIMAL(12,0)) * lam), 6) AS DOUBLE)
         |    AS dsir_weight
         |FROM dc JOIN lam USING (b)
         |GROUP BY doc_id""".stripMargin,

    // BM25 top-50 for terms (join, vector, stream): tf/dl/df/N are exact
    // integers; idf and the length norm reuse the Spark expression SHAPE
    // verbatim (incl. (1.2 + 1.0) for k1+1, which differs from the literal
    // 2.2 by one ulp), summed in declared term order, round(…,6) at the end
    "bm25_topk" -> {
      val terms = Seq("join", "vector", "stream")
      val tfs = terms.zipWithIndex.map { case (tm, i) =>
        s"CAST(len(list_filter($TOKS_LOWER, t -> t = '$tm')) AS BIGINT) AS tf$i"
      }.mkString(",\n|    ")
      val dfs = terms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
        .mkString(",\n|    ")
      val contribs = terms.indices.map { i =>
        s"""(ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) *
           |     (CAST(tf$i AS DOUBLE) * (1.2 + 1.0)) /
           |     (CAST(tf$i AS DOUBLE) +
           |      1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))"""
          .stripMargin
      }.mkString(" +\n|  ")
      val anyHit = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
      s"""WITH base AS (SELECT doc_id,
         |    CAST(len($TOKS_LOWER) AS BIGINT) AS dl,
         |    $tfs
         |  FROM documents),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(dl) AS BIGINT) AS sumdl,
         |    $dfs
         |  FROM base),
         |scored AS (SELECT doc_id, round($contribs, 6) AS bm25
         |  FROM (SELECT b.*, s.*, CAST(s.sumdl AS DOUBLE) / s.n AS avgdl
         |        FROM base b CROSS JOIN stats s)
         |  WHERE $anyHit)
         |SELECT doc_id, bm25 FROM scored
         |QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id) <= 50"""
        .stripMargin
    },

    // keyless interval containment (DuckDB IEJoin replays it exactly):
    // high-severity errors open [ts, ts+30min) windows; every event inside
    // rolls up to the incident. Half-open end, DECIMAL value sum.
    "range_join_blast" ->
      s"""WITH $EV,
         |inc AS (SELECT event_id AS incident_id, ts AS w_start,
         |    ts + INTERVAL 30 MINUTE AS w_end
         |  FROM ev WHERE event_type = 'error' AND value > 200)
         |SELECT incident_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_purchases,
         |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM inc JOIN ev e ON e.ts >= inc.w_start AND e.ts < inc.w_end
         |GROUP BY incident_id""".stripMargin,

    // the streaming sessionization must converge to the batch result
    // (append-mode watermark finalization changes nothing but timing)
    "streaming_sessions" -> sessionStatsSql,

    // md5-HLL register replay: same 63-bit hash, same bucket/rho bit math
    // (rho = 54 - bitlength(w), via bin()), exact HUGEINT register sum,
    // same estimator constants, portable round-half-up
    "hll_profile" ->
      s"""WITH h AS (
         |  SELECT source, ${mh63("text")} AS hv FROM documents),
         |b AS (SELECT source, hv & 1023 AS bucket, hv >> 10 AS w FROM h),
         |r AS (SELECT source, bucket,
         |    max(CASE WHEN w = 0 THEN 54 ELSE 54 - length(bin(w)) END) AS m_j
         |  FROM b GROUP BY 1, 2),
         |agg AS (SELECT source,
         |    SUM(CAST(CAST(1 AS BIGINT) << (54 - m_j) AS HUGEINT)) AS n_present,
         |    CAST(1024 - COUNT(*) AS BIGINT) AS v
         |  FROM r GROUP BY 1),
         |est AS (SELECT source, v,
         |    0.7213 / (1.0 + 1.079 / 1024) * 1024 * 1024 * (2.0 ** 54) /
         |      CAST(n_present + CAST(v AS HUGEINT) * (CAST(1 AS HUGEINT) << 54)
         |        AS DOUBLE) AS e_raw
         |  FROM agg),
         |fin AS (SELECT source,
         |    CASE WHEN e_raw <= 2.5 * 1024 AND v > 0
         |         THEN 1024 * ln(1024.0 / v) ELSE e_raw END AS e
         |  FROM est)
         |SELECT f.source, x.n_exact, CAST(floor(e + 0.5) AS BIGINT) AS n_hll
         |FROM fin f JOIN (
         |  SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact
         |  FROM documents GROUP BY 1) x USING (source)""".stripMargin,

    // fixed-window chunking: chunk i = substr at i*(size-overlap), last
    // chunk short, no fully-covered trailing fragment (size 120, overlap 20)
    "doc_chunks" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len
        |  FROM documents WHERE length(text) > 0),
        |n AS (SELECT doc_id, text,
        |    1 + greatest(len - 20 - 1, 0) // 100 AS nc FROM d)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |  CAST(i * 100 AS BIGINT) AS chunk_start,
        |  substr(text, i * 100 + 1, 120) AS chunk_text
        |FROM (SELECT doc_id, text, unnest(generate_series(0, nc - 1)) AS i
        |      FROM n)""".stripMargin,

    // spherical k-means: the full Lloyd's loop replayed (2 refinement
    // rounds), final assignment + per-cell size
    "kmeans_clusters" ->
      s"""WITH ${kmeansCtes(8, 2)}
         |SELECT vec_id, cell,
         |  CAST(COUNT(*) OVER (PARTITION BY cell) AS BIGINT) AS cluster_size
         |FROM a2""".stripMargin,

    // corpus kNN self-join, FULL IVF replay: the kmeans codebook (init +
    // 1 round) at the AUTO √n size — the operating rule is the default
    // path now, so the oracle replays nlist = round(sqrt(n)) too — the
    // corpus leg's argmax cell (= a1), the probe leg's top-2 cells by
    // (sim desc, cell desc), the cell-equi candidate join, exact cosine +
    // (cos desc, id asc) top-5 — cell-exact end to end
    "knn_graph" ->
      s"""WITH ${kmeansCtesK(sqrtNlistSql(), 1)},
         |cn AS (SELECT cell, list_transform(cv,
         |    y -> y / sqrt(list_dot_product(cv, cv))) AS cvn FROM c1),
         |probe AS (SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      list_dot_product(CAST(e.v AS DOUBLE[]), c.cvn) AS sim
         |    FROM e CROSS JOIN cn c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, cell DESC) <= 2),
         |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    list_dot_product(CAST(p.v AS DOUBLE[]), CAST(a.v AS DOUBLE[])) /
         |      (sqrt(list_dot_product(CAST(p.v AS DOUBLE[]), CAST(p.v AS DOUBLE[]))) *
         |       sqrt(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(a.v AS DOUBLE[])))) AS cos
         |  FROM probe p JOIN a1 a ON p.cell = a.cell AND a.vec_id <> p.vec_id)
         |SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(cos, 6) DESC, neighbor_id) AS BIGINT) AS rank
         |FROM cand QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY round(cos, 6) DESC, neighbor_id) <= 5""".stripMargin,

    // IVF-PQ kNN self-join, FULL replay: IVF codebook (km, 1 round) + four
    // PQ subspace codebooks (pq0..pq3, 1 round each), both legs' cell and
    // code assignments, symmetric-distance scores as raw-centroid dot sums
    // (engine precomputes the m×k×k table; same doubles either way), the
    // top-20 shortlist cut, the exact-cosine top-5 rerank — cell-exact
    "knn_graph_pq" -> knnGraphPqOracle(int8 = false),

    // int8-rerank twin: identical topology; the rerank CTE scores cosine
    // on the SAME floor(x/s + 0.5) integer vectors the engine ships as
    // tinyint arrays (scales cancel in cosine), so the rounding trade is
    // hash-gated end to end
    "knn_graph_pq_int8" -> knnGraphPqOracle(int8 = true),

    // incremental kNN fold ≡ FULL recompute: codebook frozen on the old
    // corpus (vec_id % 5 <> 0, the incremental_kmeans split), then the
    // whole corpus searched against it — the oracle IS the full-recompute
    // side of the top-k merge identity the fold claims
    "knn_graph_incr" ->
      s"""WITH ${kmeansCtesK(sqrtNlistSql("vec_id % 5 <> 0"), 1,
             where = "vec_id % 5 <> 0")},
         |cn AS (SELECT cell, list_transform(cv,
         |    y -> y / sqrt(list_dot_product(cv, cv))) AS cvn FROM c1),
         |ef AS (SELECT vec_id, embedding AS v FROM embeddings),
         |sims AS MATERIALIZED (SELECT f.vec_id, f.v, c.cell,
         |    list_dot_product(CAST(f.v AS DOUBLE[]), c.cvn) AS sim
         |  FROM ef f CROSS JOIN cn c),
         |asg AS (SELECT vec_id, v, cell FROM sims
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, cell DESC) = 1),
         |probe AS (SELECT vec_id, v, cell FROM sims
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, cell DESC) <= 2),
         |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
         |    round(list_dot_product(CAST(p.v AS DOUBLE[]), CAST(a.v AS DOUBLE[])) /
         |      (sqrt(list_dot_product(CAST(p.v AS DOUBLE[]), CAST(p.v AS DOUBLE[]))) *
         |       sqrt(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(a.v AS DOUBLE[])))), 6) AS cosine
         |  FROM probe p JOIN asg a ON p.cell = a.cell AND a.vec_id <> p.vec_id)
         |SELECT query_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |FROM cand QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, neighbor_id) <= 5""".stripMargin,

    // fuzzy (Levenshtein) near-dups: prefix blocking with the 2000 hot-block
    // cap, exact edit-distance verify at 20% relative distance
    "edit_near_dups" ->
      """WITH b AS (SELECT doc_id, text, md5(substr(text, 1, 24)) AS blk
        |  FROM documents
        |  QUALIFY COUNT(*) OVER (PARTITION BY blk) <= 2000),
        |p AS (SELECT x.doc_id AS idA, y.doc_id AS idB,
        |    levenshtein(x.text, y.text) AS ed,
        |    greatest(length(x.text), length(y.text)) AS ml
        |  FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id)
        |SELECT idA, idB, CAST(ed AS BIGINT) AS edit_dist
        |FROM p WHERE ed <= 0.2 * ml""".stripMargin,

    // version-dir CDF: the planted mutation rules replayed directly —
    // deletes carry pre-image values, updates the post-image, inserts the
    // cloned rows
    "version_diff" ->
      """WITH c AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer)
        |SELECT c_custkey, 'delete' AS change_type, c_acctbal, c_mktsegment
        |  FROM c WHERE c_custkey % 10 = 3
        |UNION ALL
        |SELECT c_custkey, 'update_postimage', c_acctbal + 100.0, c_mktsegment
        |  FROM c WHERE c_custkey % 10 = 4
        |UNION ALL
        |SELECT c_custkey + 100000, 'insert', c_acctbal, c_mktsegment
        |  FROM c WHERE c_custkey % 10 = 5""".stripMargin,

    // z-order layout: result is layout-invariant (plain box filter); the
    // Morton interleave itself is replayed bit-for-bit in SQL
    "zorder_layout" -> {
      def zi(a: String, b: String, bits: Int): String =
        (0 until bits).flatMap(i => Seq(
          s"((($a >> $i) & 1) << ${2 * i})",
          s"((($b >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH o AS (SELECT o_orderkey, o_custkey,
         |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM orders)
         |SELECT o_orderkey, o_custkey, cents,
         |  CAST(${zi("o_custkey", "cents", 26)} AS BIGINT) AS zkey
         |FROM o
         |WHERE o_custkey BETWEEN 100 AND 400
         |  AND cents BETWEEN 2000000 AND 6000000""".stripMargin
    },

    // in-engine classifier training: all 3 GD rounds replayed (hashed
    // features, quantized gradient sums, exact update arithmetic), scores
    // from the bit-identical final model
    "quality_classifier" ->
      s"""WITH ${classifierSql(32, 3, 1024)}
         |SELECT x.doc_id, CAST(l.y AS BIGINT) AS label,
         |  round(list_dot_product(x.xv, w3.w), 6) AS score
         |FROM x JOIN lab l USING (doc_id) CROSS JOIN w3""".stripMargin,

    // SemDeDup: the 1-round k-means replay, then exact pairwise cosine
    // INSIDE each cell only; a row is dropped when a smaller-id cell-mate
    // sits at cosine >= 0.35 (min-id keeps)
    "semantic_dedup" ->
      s"""WITH ${kmeansCtes(8, 1)},
         |m AS (SELECT vec_id, CAST(v AS DOUBLE[]) AS dv, cell FROM a1),
         |dup AS (SELECT DISTINCT y.vec_id AS id
         |  FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE list_dot_product(x.dv, y.dv) /
         |    (sqrt(list_dot_product(x.dv, x.dv)) * sqrt(list_dot_product(y.dv, y.dv)))
         |    >= 0.35)
         |SELECT m.vec_id, m.cell,
         |  CAST(CASE WHEN dup.id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM m LEFT JOIN dup ON m.vec_id = dup.id""".stripMargin,

    // cluster-balanced diversity sample: 10 md5-picked members per cell of
    // the 1-round k-means
    "diversity_sample" ->
      s"""WITH ${kmeansCtes(8, 1)}
         |SELECT vec_id, cell, CAST(rn AS BIGINT) AS pick_rank FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
         |    ORDER BY substr(md5(CAST(vec_id AS VARCHAR) || '|ds'), 1, 16),
         |      vec_id) AS rn
         |  FROM a1)
         |WHERE rn <= 10""".stripMargin,

    // BPE vocabulary training: every round (adjacent-pair count over the
    // distinct-word table, argmax with lexicographic tie-break, left-to-
    // right non-overlapping merge) replayed as a generated CTE chain over
    // the same (a)(b)(c) wrapped-symbol representation as the Spark loop
    "bpe_train" -> bpeTrainSql(12),
    "bpe_train_scaled" -> bpeTrainBatchedSql(30, 64),
    // the driver-closure production trainer is EXACT sequential BPE, so it
    // shares bpe_train's round-by-round replay oracle verbatim
    "bpe_train_exact" -> bpeTrainSql(12),

    // tokenizer-faithful encode with the learned merges: per-doc BPE token
    // count + an md5 digest of the in-order segmentations
    "bpe_encode" -> bpeEncodeSql(12),

    // frequency-ranked top-200 vocabulary, deterministic (freq DESC, token)
    // tie-break, dense ids from 0
    "vocab_topk" ->
      s"""WITH tok AS (SELECT unnest($TOKS_LOWER) AS token FROM documents),
         |f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) - 1 AS BIGINT)
         |    AS vocab_id, token, freq
         |FROM f
         |QUALIFY row_number() OVER (ORDER BY freq DESC, token) <= 200""".stripMargin,

    // per-source training-mix rollup: doc/dup/token/char/lang counts, all
    // integer aggregation; md5() hex = Spark md5()
    "domain_stats" ->
      s"""WITH d AS (SELECT source, lang,
         |    CAST(len($TOKS_RAW) AS BIGINT) AS n_toks,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    md5(text) AS digest
         |  FROM documents)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) - COUNT(DISTINCT digest) AS BIGINT) AS n_dup_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |  round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS mean_chars
         |FROM d GROUP BY source""".stripMargin,

    // column profile over customer (+ an injected-null column): one row per
    // column; numerics pre-cast to DECIMAL so min/max render identically as
    // strings in both engines
    "column_profile" -> {
      val base = """WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
        |  CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal_dec,
        |  nullif(c_mktsegment, 'BUILDING') AS c_seg_nullable
        |FROM customer)""".stripMargin
      val cols = Seq("c_custkey", "c_nationkey", "c_mktsegment",
        "c_acctbal_dec", "c_seg_nullable")
      val parts = cols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM c""".stripMargin
      }
      base + "\n" + parts.mkString("\nUNION ALL\n")
    },

    // deterministic training-order shuffle: global row numbers in
    // (md5(doc_id), doc_id) order
    "shuffle_export" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY
         |    CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % $M63 AS BIGINT),
         |    doc_id) AS BIGINT) AS row_number, doc_id
         |FROM documents""".stripMargin,

    // temperature-1/2 training mix: sqrt weights (IEEE-exact), round(…,6),
    // integer budget split — window runs over n_sources rows
    // mix plan EXECUTION: floor(rate) full epochs + one fractional epoch
    // behind the md5-prefix gate (printf('%08x') ≡ format_string)
    "mix_execute" ->
      s"""WITH s AS (
         |  SELECT source, CAST(SUM(len($TOKS_RAW)) AS BIGINT) AS total_tokens
         |  FROM documents GROUP BY 1),
         |w AS (
         |  SELECT source, total_tokens,
         |    round(sqrt(CAST(total_tokens AS DOUBLE)) /
         |      SUM(sqrt(CAST(total_tokens AS DOUBLE))) OVER (), 6) AS weight
         |  FROM s),
         |p AS (SELECT source,
         |    round(CAST(round(weight * 1000000) AS BIGINT) /
         |      CAST(total_tokens AS DOUBLE), 6) AS rate FROM w),
         |x AS (SELECT d.doc_id, d.source, e.epoch,
         |    CAST(floor(rate) AS BIGINT) AS copies,
         |    rate - floor(rate) AS frac
         |  FROM documents d JOIN p ON d.source = p.source,
         |    unnest(generate_series(0, CAST(floor(rate) AS BIGINT)))
         |      AS e(epoch))
         |SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch FROM x
         |WHERE epoch < copies OR
         |  substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
         |    CAST(epoch AS VARCHAR) || '|mix'), 1, 8) <
         |  printf('%08x', CAST(floor(frac * 4294967296.0) AS BIGINT))""".stripMargin,

    "mix_plan" ->
      s"""WITH s AS (
         |  SELECT source, CAST(SUM(len($TOKS_RAW)) AS BIGINT) AS total_tokens
         |  FROM documents GROUP BY 1),
         |w AS (
         |  SELECT source, total_tokens,
         |    round(sqrt(CAST(total_tokens AS DOUBLE)) /
         |      SUM(sqrt(CAST(total_tokens AS DOUBLE))) OVER (), 6) AS weight
         |  FROM s)
         |SELECT source, total_tokens, weight,
         |  CAST(round(weight * 1000000) AS BIGINT) AS planned_tokens,
         |  round(CAST(round(weight * 1000000) AS BIGINT) /
         |    CAST(total_tokens AS DOUBLE), 6) AS sampling_rate
         |FROM w""".stripMargin,

    // equal-count curriculum bins: bin = floor((rank-1)·4/n) over the
    // (quality, doc_id) total order — integer rank arithmetic, no ntile
    "curriculum_bins" ->
      raw"""WITH $QUALITY_CTES,
           |r AS (
           |  SELECT doc_id, quality,
           |    row_number() OVER (ORDER BY quality, doc_id) AS rk,
           |    COUNT(*) OVER () AS n
           |  FROM q)
           |SELECT doc_id, quality,
           |  CAST(floor((rk - 1) * 4 / n) AS BIGINT) AS bin
           |FROM r""".stripMargin,

    // end-to-end corpus curation: near-dup clusters (full LSH replay +
    // recursive closure) → best-quality doc per cluster → quality gate
    "corpus_curate" ->
      s"""WITH RECURSIVE
         |p AS MATERIALIZED (SELECT idA, idB FROM ($minhashNearDupsSql)),
         |e AS (SELECT idA AS s, idB AS d FROM p
         |      UNION SELECT idB, idA FROM p),
         |n AS (SELECT DISTINCT s AS id FROM e),
         |reach(a, b) AS (
         |  SELECT id, id FROM n
         |  UNION
         |  SELECT r.a, e.d FROM reach r JOIN e ON r.b = e.s),
         |cl AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
         |       FROM reach GROUP BY 1),
         |$QUALITY_CTES,
         |wc AS (
         |  SELECT q.doc_id, COALESCE(cl.cluster_id, q.doc_id) AS cluster_id,
         |    q.quality
         |  FROM q LEFT JOIN cl USING (doc_id)),
         |r AS (
         |  SELECT doc_id, cluster_id, quality,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality DESC, doc_id) AS rn,
         |    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
         |  FROM wc)
         |SELECT doc_id, cluster_id, n_members, quality
         |FROM r WHERE rn = 1 AND quality >= 0.5""".stripMargin,

    // cross-source duplicate provenance: the full MinHash LSH pipeline
    // replayed, pairs rolled up per unordered source pair
    "cross_source_dups" ->
      s"""WITH p AS MATERIALIZED (SELECT idA, idB FROM ($minhashNearDupsSql)),
         |d AS (SELECT doc_id, source FROM documents)
         |SELECT least(a.source, b.source) AS source_a,
         |  greatest(a.source, b.source) AS source_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_near_dup_pairs
         |FROM p JOIN d a ON p.idA = a.doc_id JOIN d b ON p.idB = b.doc_id
         |GROUP BY 1, 2""".stripMargin,

    // nearest-rank percentile profile: p_q = value at rank ceil(q·n) per
    // group — rank selection on DECIMAL values, cast to double at the end
    "numeric_profile" ->
      s"""WITH r AS (
         |  SELECT o_orderpriority AS grp,
         |    CAST(o_totalprice AS DECIMAL(18,2)) AS v
         |  FROM orders),
         |rk AS (
         |  SELECT grp, v,
         |    row_number() OVER (PARTITION BY grp ORDER BY v) AS rk,
         |    COUNT(*) OVER (PARTITION BY grp) AS n
         |  FROM r)
         |SELECT grp,
         |  CAST(max(n) AS BIGINT) AS n_rows,
         |  CAST(min(v) AS DOUBLE) AS min_value,
         |  CAST(max(CASE WHEN rk = ceil(0.25 * n) THEN v END) AS DOUBLE) AS p25,
         |  CAST(max(CASE WHEN rk = ceil(0.50 * n) THEN v END) AS DOUBLE) AS p50,
         |  CAST(max(CASE WHEN rk = ceil(0.90 * n) THEN v END) AS DOUBLE) AS p90,
         |  CAST(max(CASE WHEN rk = ceil(0.99 * n) THEN v END) AS DOUBLE) AS p99,
         |  CAST(max(v) AS DOUBLE) AS max_value
         |FROM rk GROUP BY grp""".stripMargin,

    // mergeable-sketch percentiles: the bottom-k md5-order sample replayed
    // verbatim (QUALIFY over hash order == the aggregate's retained set —
    // order-independent, so Spark's partial-agg tree can't change it),
    // then nearest-rank WITHIN the sample
    "sketch_quantiles" ->
      s"""WITH src AS (SELECT o_orderkey AS id, o_orderpriority AS grp,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v
         |  FROM orders),
         |h AS (SELECT grp, v,
         |    substr(md5(CAST(id AS VARCHAR) || '|' || 'qsk'), 1, 16) AS hk
         |  FROM src),
         |samp AS (SELECT grp, v FROM h
         |  QUALIFY row_number() OVER (PARTITION BY grp ORDER BY hk, v) <= 1024),
         |rk AS (SELECT grp, v,
         |    row_number() OVER (PARTITION BY grp ORDER BY v) AS rk,
         |    COUNT(*) OVER (PARTITION BY grp) AS sn
         |  FROM samp),
         |tot AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows
         |  FROM src GROUP BY 1)
         |SELECT rk.grp, tot.n_rows,
         |  CAST(max(sn) AS BIGINT) AS sample_n,
         |  max(CASE WHEN rk = ceil(0.25 * sn) THEN v END) AS p25,
         |  max(CASE WHEN rk = ceil(0.50 * sn) THEN v END) AS p50,
         |  max(CASE WHEN rk = ceil(0.90 * sn) THEN v END) AS p90,
         |  max(CASE WHEN rk = ceil(0.99 * sn) THEN v END) AS p99
         |FROM rk JOIN tot ON rk.grp = tot.grp
         |GROUP BY rk.grp, tot.n_rows""".stripMargin,

    // streaming exact dedup: the doubled delivery must collapse back to the
    // single-copy per-user rollup
    "streaming_dedup" ->
      s"""WITH $EV
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  max(epoch_ms(ts)) AS max_ts_ms
         |FROM ev GROUP BY 1""".stripMargin,

    // windowFunnel greedy earliest-chain: t1 = first view; each later step
    // the MIN ts strictly after the previous step's pick, within t1 + 24h
    "event_funnel" ->
      s"""WITH $EV,
         |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
         |  WHERE event_type = 'view' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(e.ts) AS t2, min(t1) AS t1
         |  FROM ev e JOIN s1 USING (user_id)
         |  WHERE event_type = 'click' AND e.ts > t1
         |    AND e.ts <= t1 + INTERVAL 86400 SECOND GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(e.ts) AS t3
         |  FROM ev e JOIN s2 USING (user_id)
         |  WHERE event_type = 'purchase' AND e.ts > t2
         |    AND e.ts <= t1 + INTERVAL 86400 SECOND GROUP BY 1)
         |SELECT CAST(1 AS INTEGER) AS step_idx, 'view' AS step,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
         |UNION ALL SELECT CAST(2 AS INTEGER), 'click',
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
         |UNION ALL SELECT CAST(3 AS INTEGER), 'purchase',
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)""".stripMargin,

    // daily cohort retention: cohort = first active day per user, offset
    // in whole days (both sides day-truncated, so the diff is exact)
    "retention_cohorts" ->
      s"""WITH $EV,
         |c AS (SELECT user_id, min(date_trunc('day', ts)) AS cd
         |  FROM ev GROUP BY 1),
         |a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM ev)
         |SELECT epoch_ms(cd) AS cohort_ms,
         |  CAST(date_diff('day', cd, d) AS INTEGER) AS bucket_offset,
         |  CAST(COUNT(*) AS BIGINT) AS n_users
         |FROM a JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,

    // SCD2 build: run-length compress per-user event_type over the
    // (ts, event_id) total order, LEAD closes each interval
    "scd2_build" ->
      s"""WITH $EV,
         |l AS (SELECT user_id, event_type, ts, event_id,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS pe
         |  FROM ev),
         |s AS (SELECT user_id, event_type, ts AS vf, event_id FROM l
         |  WHERE pe IS NULL OR pe <> event_type),
         |w AS (SELECT user_id, event_type, vf,
         |    lead(vf) OVER (PARTITION BY user_id ORDER BY vf, event_id)
         |      AS vt
         |  FROM s)
         |SELECT user_id, event_type, epoch_ms(vf) AS valid_from_ms,
         |  epoch_ms(vt) AS valid_to_ms, vt IS NULL AS is_current
         |FROM w""".stripMargin,

    // market-basket lift: exact BIGINT support counts, ONE double division
    // rounded; ORDER on the rounded lift with the pair tie-break
    "item_cooccur" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
        |  FROM lineitem),
        |sz AS (SELECT bk, COUNT(*) AS s FROM b GROUP BY 1
        |  HAVING COUNT(*) <= 1000),
        |cb AS (SELECT b.bk, b.item FROM b JOIN sz USING (bk)),
        |itn AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM cb
        |  GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM sz),
        |p AS (SELECT x.item AS item_a, y.item AS item_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM cb x JOIN cb y ON x.bk = y.bk AND x.item < y.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT item_a, item_b, n_ab, na.n AS n_a, nbn.n AS n_b,
        |  round(CAST(n_ab * nb AS DOUBLE) /
        |    CAST(na.n * nbn.n AS DOUBLE), 6) AS lift
        |FROM p JOIN itn na ON item_a = na.item
        |  JOIN itn nbn ON item_b = nbn.item, tot
        |ORDER BY lift DESC, item_a, item_b LIMIT 100""".stripMargin,

    // smoothed target encoding: DECIMAL sums, the prior pinned FIRST
    // (one rounded double), then the encoding uses the pinned prior
    "target_encode" ->
      """WITH j AS (SELECT c_mktsegment AS category,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |pc AS (SELECT category, CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS s
        |  FROM j GROUP BY 1),
        |g AS (SELECT SUM(y) AS gs, CAST(COUNT(*) AS BIGINT) AS gn FROM j)
        |SELECT category, n,
        |  round((CAST(s AS DOUBLE) + 20 * round(CAST(gs AS DOUBLE) / gn, 6))
        |    / (n + 20), 6) AS enc,
        |  round(CAST(gs AS DOUBLE) / gn, 6) AS prior
        |FROM pc, g""".stripMargin,

    // per-column Shannon entropy: per-category terms rounded to 9 dp and
    // pinned to DECIMAL BEFORE the sum (exact, order-independent)
    "column_entropy" ->
      """WITH m AS (
        |  SELECT 'c_name' AS col_,
        |    COALESCE(CAST(c_name AS VARCHAR), '__null__') AS v FROM customer
        |  UNION ALL SELECT 'c_nationkey',
        |    COALESCE(CAST(c_nationkey AS VARCHAR), '__null__') FROM customer
        |  UNION ALL SELECT 'c_mktsegment',
        |    COALESCE(CAST(c_mktsegment AS VARCHAR), '__null__') FROM customer
        |  UNION ALL SELECT 'c_acctbal',
        |    COALESCE(CAST(c_acctbal AS VARCHAR), '__null__') FROM customer),
        |c AS (SELECT col_, v, CAST(COUNT(*) AS BIGINT) AS n FROM m
        |  GROUP BY 1, 2),
        |t AS (SELECT col_, SUM(n) AS tot, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM c GROUP BY 1)
        |SELECT c.col_ AS "column", min(k) AS n_categories,
        |  CAST(SUM(CAST(round(-(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) *
        |    ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
        |    AS DECIMAL(18,9))) AS DOUBLE) AS entropy_nats
        |FROM c JOIN t USING (col_) GROUP BY 1""".stripMargin,

    // mutual information: contingency counts exact; marginals re-derived
    // from the pair table; one ln per cell, 9-dp pinned
    "mutual_info" ->
      """WITH p AS (SELECT
        |    COALESCE(CAST(c_mktsegment AS VARCHAR), '__null__') AS x,
        |    COALESCE(CAST(c_nationkey AS VARCHAR), '__null__') AS y,
        |    CAST(COUNT(*) AS BIGINT) AS n_xy
        |  FROM customer GROUP BY 1, 2),
        |nx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM p GROUP BY 1),
        |ny AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM p GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM p)
        |SELECT x, y, n_xy, n_x, n_y,
        |  CAST(CAST(round((CAST(n_xy AS DOUBLE) / n) *
        |    ln(CAST(n_xy * n AS DOUBLE) / CAST(n_x * n_y AS DOUBLE)), 9)
        |    AS DECIMAL(18,9)) AS DOUBLE) AS mi_term
        |FROM p JOIN nx USING (x) JOIN ny USING (y), t""".stripMargin,

    // weighted PageRank, 3 rounds replayed: contributions and updates are
    // single rounded double expressions pinned to DECIMAL(18,12); (1.0 -
    // 0.85) written as the SUBTRACTION so both engines use the same double
    "pagerank" -> {
      val rounds = (1 to 3).map { i =>
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"""c$i AS (SELECT d, SUM(CAST(round(CAST(r AS DOUBLE) * w / ow, 12)
           |    AS DECIMAL(18,12))) AS m
           |  FROM e JOIN ow USING (s) JOIN $prev ON $prev.v = e.s
           |  GROUP BY 1),
           |r$i AS (SELECT v.v, CAST(round((1.0 - 0.85) / n +
           |    0.85 * CAST(COALESCE(m, 0) AS DOUBLE), 12)
           |    AS DECIMAL(18,12)) AS r
           |  FROM v LEFT JOIN c$i ON v.v = c$i.d, nn)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT c_nationkey AS s, s_nationkey AS d,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |    JOIN lineitem ON o_orderkey = l_orderkey
         |    JOIN supplier ON l_suppkey = s_suppkey
         |  GROUP BY 1, 2),
         |ow AS (SELECT s, SUM(w) AS ow FROM e GROUP BY 1),
         |v AS (SELECT DISTINCT v FROM
         |  (SELECT s AS v FROM e UNION ALL SELECT d FROM e)),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
         |r0 AS (SELECT v, CAST(round(1.0 / n, 12) AS DECIMAL(18,12)) AS r
         |  FROM v, nn),
         |$rounds
         |SELECT v AS node, CAST(r AS DOUBLE) AS "rank" FROM r3""".stripMargin
    },

    // group-leak-safe 5-fold: fold = md5_63(user|seed) % 5, rolled up
    "kfold_split" ->
      s"""WITH $EV
         |SELECT CAST(${mh63("CAST(user_id AS VARCHAR) || '|' || '7'")} % 5
         |    AS INTEGER) AS fold,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM ev GROUP BY 1""".stripMargin,

    // Efraimidis-Spirakis: u = (md5_63 + 1)/2^63 (never 0), key =
    // round(-ln(u)/w, 9); ORDER on the rounded key + id tie-break
    "weighted_sample" ->
      s"""SELECT doc_id, n_chars,
         |  round(-ln((CAST(${mh63("CAST(doc_id AS VARCHAR) || '|' || 'ws1'")}
         |      AS DOUBLE) + 1.0) / 9223372036854775808.0)
         |    / CAST(n_chars AS DOUBLE), 9) AS es_key
         |FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
         |ORDER BY es_key, doc_id LIMIT 100""".stripMargin,

    // deterministic word dropout: token at 0-based position p survives iff
    // md5_63(id|p|seed) % 100 >= 15 (DuckDB lambda index is 1-based: i-1)
    "augment_dropout" ->
      s"""WITH d AS (SELECT doc_id, $TOKS_RAW AS toks FROM documents),
         |a AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    array_to_string(list_filter(toks, (t, i) ->
         |      ${mh63("CAST(doc_id AS VARCHAR) || '|' || CAST(i - 1 AS VARCHAR) || '|' || 'aug1'")}
         |        % 100 >= 15), ' ') AS text_aug
         |  FROM d)
         |SELECT doc_id, n_tokens, text_aug,
         |  CAST(len(list_filter(string_split_regex(trim(text_aug), '\\s+'),
         |    t -> length(t) > 0)) AS BIGINT) AS n_kept
         |FROM a""".stripMargin,

    // SCD2 lookup: state dimension from the non-purchase stream, each
    // purchase joined to the interval live at its ts (open runs closed
    // with a far-future sentinel)
    "scd2_lookup" ->
      s"""WITH $EV,
         |st AS (SELECT * FROM ev WHERE event_type <> 'purchase'),
         |l AS (SELECT user_id, event_type, ts, event_id,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS pe
         |  FROM st),
         |s AS (SELECT user_id, event_type, ts AS vf, event_id FROM l
         |  WHERE pe IS NULL OR pe <> event_type),
         |w AS (SELECT user_id, event_type AS state, vf,
         |    COALESCE(lead(vf) OVER (PARTITION BY user_id
         |        ORDER BY vf, event_id),
         |      TIMESTAMP '9999-01-01 00:00:00') AS vt
         |  FROM s),
         |pt AS (SELECT user_id, event_id, ts FROM ev
         |  WHERE event_type = 'purchase')
         |SELECT pt.user_id, pt.event_id, epoch_ms(pt.ts) AS ts_ms, state,
         |  epoch_ms(vf) AS state_since_ms
         |FROM pt JOIN w ON pt.user_id = w.user_id
         |  AND pt.ts >= vf AND pt.ts < vt""".stripMargin,

    // Markov transitions: LEAD over the per-user (ts, event_id) order;
    // marginal re-derived from the transition table
    "transition_matrix" ->
      s"""WITH $EV,
         |tr AS (SELECT event_type AS from_state,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS to_state
         |  FROM ev),
         |pp AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM tr WHERE to_state IS NOT NULL GROUP BY 1, 2),
         |f AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS n_from
         |  FROM pp GROUP BY 1)
         |SELECT from_state, to_state, n, n_from,
         |  round(CAST(n AS DOUBLE) / n_from, 6) AS p
         |FROM pp JOIN f USING (from_state)""".stripMargin,

    // deterministic A/B readout: arm = md5_63(unit|experiment) % 2,
    // DECIMAL-exact totals, SUM/COUNT mean
    "experiment_readout" ->
      s"""SELECT CAST(${mh63("CAST(o_custkey AS VARCHAR) || '|' || 'exp1'")}
         |    % 2 AS INTEGER) AS arm,
         |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_units,
         |  CAST(COUNT(*) AS BIGINT) AS n_obs,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    / COUNT(*), 6) AS mean
         |FROM orders GROUP BY 1""".stripMargin,

    // z-score outliers: DECIMAL-exact sums/sumsq, pinned mean and sd,
    // fixed-shape z expression on both sides of the gate
    "outlier_zscore" ->
      s"""WITH $EV,
         |o AS (SELECT event_type AS g, event_id,
         |    CAST(value AS DECIMAL(18,2)) AS y FROM ev
         |  WHERE value IS NOT NULL),
         |st AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS s,
         |    SUM(y * y) AS ss FROM o GROUP BY 1),
         |m AS (SELECT g, round(CAST(s AS DOUBLE) / n, 6) AS mean,
         |    round(sqrt((CAST(ss AS DOUBLE) -
         |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n), 6) AS sd
         |  FROM st)
         |SELECT o.g, event_id, CAST(y AS DOUBLE) AS value, mean, sd,
         |  round((CAST(y AS DOUBLE) - mean) / sd, 6) AS z
         |FROM o JOIN m USING (g)
         |WHERE sd > 0
         |  AND abs(round((CAST(y AS DOUBLE) - mean) / sd, 6)) > 3.0""".stripMargin,

    // MAD robust outliers: lower-median rank selection, exact DECIMAL
    // deviation compare (k=6) — zero float operations in the pipeline
    "mad_outliers" ->
      s"""WITH $EV,
         |o AS (SELECT event_type AS g, event_id,
         |    CAST(value AS DECIMAL(18,2)) AS y FROM ev
         |  WHERE value IS NOT NULL),
         |r1 AS (SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY y)
         |    AS rk, COUNT(*) OVER (PARTITION BY g) AS n FROM o),
         |med AS (SELECT g, MIN(y) AS med FROM r1
         |  WHERE rk = (n + 1) // 2 GROUP BY 1),
         |d AS (SELECT o.g, event_id, y, med, abs(y - med) AS dev
         |  FROM o JOIN med USING (g)),
         |r2 AS (SELECT g, dev,
         |    row_number() OVER (PARTITION BY g ORDER BY dev) AS rk,
         |    COUNT(*) OVER (PARTITION BY g) AS n FROM d),
         |mad AS (SELECT g, MIN(dev) AS mad FROM r2
         |  WHERE rk = (n + 1) // 2 GROUP BY 1)
         |SELECT d.g, event_id, CAST(y AS DOUBLE) AS value,
         |  CAST(med AS DOUBLE) AS median, CAST(mad AS DOUBLE) AS mad,
         |  CAST(dev AS DOUBLE) AS abs_dev
         |FROM d JOIN mad USING (g)
         |WHERE mad > 0 AND dev > 6 * mad""".stripMargin,

    // winsorization: per-group nearest-rank p5/p95 clamp — integer
    // ceil-div rank arithmetic, exact DECIMAL least/greatest
    "winsorize_clip" ->
      s"""WITH o AS (SELECT o_orderkey, o_orderpriority AS g,
         |    CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders),
         |r AS (SELECT g, v,
         |    row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
         |    COUNT(*) OVER (PARTITION BY g) AS n FROM o),
         |b AS (SELECT g,
         |    MIN(CASE WHEN rk = (n * 5 + 99) // 100 THEN v END) AS lo,
         |    MIN(CASE WHEN rk = (n * 95 + 99) // 100 THEN v END) AS hi
         |  FROM r
         |  WHERE rk = (n * 5 + 99) // 100 OR rk = (n * 95 + 99) // 100
         |  GROUP BY 1)
         |SELECT o_orderkey, o.g, CAST(v AS DOUBLE) AS value,
         |  CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,
         |  CAST(least(greatest(v, lo), hi) AS DOUBLE) AS clipped
         |FROM o JOIN b USING (g)""".stripMargin,

    // Adamic-Adar link prediction: per-center term round(1/ln(deg), 9)
    // pinned DECIMAL before the exact pair sum; known edges anti-joined
    // out; rank on the double cast with (a, b) tie-break
    "link_prediction" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (SELECT x.l_partkey AS a, y.l_partkey AS b
         |  FROM li x JOIN li y USING (l_orderkey)
         |  WHERE x.l_partkey < y.l_partkey
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |adj AS (SELECT a AS v, b AS n FROM e
         |  UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM adj
         |  GROUP BY 1),
         |ctr AS (SELECT adj.n, adj.v,
         |    CAST(round(1.0 / ln(CAST(d AS DOUBLE)), 9) AS DECIMAL(18,9))
         |      AS term
         |  FROM adj JOIN deg USING (n) WHERE d BETWEEN 2 AND 50),
         |cand AS (SELECT x.v AS a, y.v AS b,
         |    CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         |    SUM(x.term) AS aa
         |  FROM ctr x JOIN ctr y ON x.n = y.n AND x.v < y.v
         |  GROUP BY 1, 2),
         |nonedge AS (SELECT cand.* FROM cand
         |  LEFT JOIN e ON cand.a = e.a AND cand.b = e.b
         |  WHERE e.a IS NULL)
         |SELECT a, b, common_neighbors, CAST(aa AS DOUBLE) AS aa_score
         |FROM nonedge
         |ORDER BY CAST(aa AS DOUBLE) DESC, a, b LIMIT 50""".stripMargin,

    // HLL set overlap: per-source registers rebuilt, the pair union is an
    // elementwise register MAX (no corpus rescan in the engine), the
    // intersection estimate by inclusion-exclusion; exact counts beside
    "hll_overlap" ->
      s"""WITH h AS (SELECT source, ${mh63("text")} AS hv FROM documents),
         |b AS (SELECT source, hv & 1023 AS bucket, hv >> 10 AS w FROM h),
         |r AS (SELECT source, bucket,
         |    max(CASE WHEN w = 0 THEN 54 ELSE 54 - length(bin(w)) END) AS m_j
         |  FROM b GROUP BY 1, 2),
         |agg AS (SELECT source,
         |    SUM(CAST(CAST(1 AS BIGINT) << (54 - m_j) AS HUGEINT)) AS np,
         |    CAST(1024 - COUNT(*) AS BIGINT) AS v
         |  FROM r GROUP BY 1),
         |est AS (SELECT source, CAST(floor(
         |    CASE WHEN e_raw <= 2.5 * 1024 AND v > 0
         |         THEN 1024 * ln(1024.0 / v) ELSE e_raw END + 0.5)
         |    AS BIGINT) AS e
         |  FROM (SELECT source, v,
         |      0.7213 / (1.0 + 1.079 / 1024) * 1024 * 1024 * (2.0 ** 54) /
         |        CAST(np + CAST(v AS HUGEINT) * (CAST(1 AS HUGEINT) << 54)
         |          AS DOUBLE) AS e_raw
         |    FROM agg)),
         |srcs AS (SELECT DISTINCT source FROM documents),
         |p AS (SELECT a.source AS src_a, b.source AS src_b
         |  FROM srcs a JOIN srcs b ON a.source < b.source),
         |ur AS (SELECT p.src_a, p.src_b, r.bucket, MAX(r.m_j) AS m_j
         |  FROM p JOIN r ON r.source = p.src_a OR r.source = p.src_b
         |  GROUP BY 1, 2, 3),
         |uagg AS (SELECT src_a, src_b,
         |    SUM(CAST(CAST(1 AS BIGINT) << (54 - m_j) AS HUGEINT)) AS np,
         |    CAST(1024 - COUNT(*) AS BIGINT) AS v
         |  FROM ur GROUP BY 1, 2),
         |uest AS (SELECT src_a, src_b, CAST(floor(
         |    CASE WHEN e_raw <= 2.5 * 1024 AND v > 0
         |         THEN 1024 * ln(1024.0 / v) ELSE e_raw END + 0.5)
         |    AS BIGINT) AS ue
         |  FROM (SELECT src_a, src_b, v,
         |      0.7213 / (1.0 + 1.079 / 1024) * 1024 * 1024 * (2.0 ** 54) /
         |        CAST(np + CAST(v AS HUGEINT) * (CAST(1 AS HUGEINT) << 54)
         |          AS DOUBLE) AS e_raw
         |    FROM uagg)),
         |ex AS (SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT)
         |    AS n_exact FROM documents GROUP BY 1),
         |dt AS (SELECT DISTINCT source, text FROM documents),
         |xin AS (SELECT x.source AS src_a, y.source AS src_b,
         |    CAST(COUNT(*) AS BIGINT) AS exact_inter
         |  FROM dt x JOIN dt y ON x.text = y.text AND x.source < y.source
         |  GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b,
         |  ea.n_exact AS exact_a, eb.n_exact AS exact_b,
         |  COALESCE(xin.exact_inter, 0) AS exact_inter,
         |  sa.e AS est_a, sb.e AS est_b, ue.ue AS union_est,
         |  sa.e + sb.e - ue.ue AS inter_est
         |FROM p
         |JOIN ex ea ON ea.source = p.src_a
         |JOIN ex eb ON eb.source = p.src_b
         |JOIN est sa ON sa.source = p.src_a
         |JOIN est sb ON sb.source = p.src_b
         |JOIN uest ue ON ue.src_a = p.src_a AND ue.src_b = p.src_b
         |LEFT JOIN xin ON xin.src_a = p.src_a AND xin.src_b = p.src_b""".stripMargin,

    // RFM segmentation: quintiles by integer rank arithmetic under the
    // (metric, entity) total order; recency inverted so recent = 5
    "rfm_segments" ->
      s"""WITH base AS (SELECT o_custkey,
         |    CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
         |      (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
         |      AS BIGINT) AS recency_days,
         |    CAST(COUNT(*) AS BIGINT) AS frequency,
         |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
         |  FROM orders GROUP BY 1),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
         |rr AS (SELECT o_custkey, 1 + ((row_number()
         |    OVER (ORDER BY recency_days, o_custkey) - 1) * 5) // n AS rb
         |  FROM base, nn),
         |fr AS (SELECT o_custkey, 1 + ((row_number()
         |    OVER (ORDER BY frequency, o_custkey) - 1) * 5) // n AS f_score
         |  FROM base, nn),
         |mr AS (SELECT o_custkey, 1 + ((row_number()
         |    OVER (ORDER BY m, o_custkey) - 1) * 5) // n AS m_score
         |  FROM base, nn)
         |SELECT base.o_custkey, recency_days, frequency,
         |  CAST(m AS DOUBLE) AS monetary,
         |  6 - rb AS r_score, f_score, m_score,
         |  CAST(6 - rb AS VARCHAR) || CAST(f_score AS VARCHAR) ||
         |    CAST(m_score AS VARCHAR) AS segment
         |FROM base JOIN rr USING (o_custkey) JOIN fr USING (o_custkey)
         |  JOIN mr USING (o_custkey)""".stripMargin,

    // sparse TF-IDF cosine neighbors: weights pinned to DECIMAL(18,9) so
    // dots and norm sums are exact; df > 50 tokens dropped before pairing
    "tfidf_neighbors" ->
      s"""WITH tf AS (SELECT doc_id AS id, t AS token,
         |    CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS_LOWER) AS t FROM documents)
         |  GROUP BY 1, 2),
         |dft AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf
         |  GROUP BY 1 HAVING COUNT(*) <= 50),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |wt AS (SELECT id, token,
         |    CAST(round(CAST(tf AS DOUBLE) *
         |      ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 9)
         |      AS DECIMAL(18,9)) AS w
         |  FROM tf JOIN dft USING (token), nn),
         |nrm AS (SELECT id, round(sqrt(CAST(SUM(w * w) AS DOUBLE)), 9)
         |    AS nrm
         |  FROM wt GROUP BY 1),
         |dots AS (SELECT a.id AS id, b.id AS neighbor, SUM(a.w * b.w) AS dot
         |  FROM wt a JOIN wt b ON a.token = b.token AND a.id <> b.id
         |  GROUP BY 1, 2),
         |sc AS (SELECT d.id, d.neighbor,
         |    round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine
         |  FROM dots d JOIN nrm na ON d.id = na.id
         |    JOIN nrm nb ON d.neighbor = nb.id)
         |SELECT id, neighbor, cosine, CAST(rk AS INTEGER) AS "rank" FROM
         |  (SELECT *, row_number() OVER (PARTITION BY id
         |     ORDER BY cosine DESC, neighbor) AS rk FROM sc)
         |WHERE rk <= 5""".stripMargin,

    // percent_rank shares tie semantics across engines: (rank-1)/(n-1)
    // over integer ranks — the same double in both, rounded at 6 dp
    "percentile_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice AS value,
        |  round(percent_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice), 6) AS pr
        |FROM orders""".stripMargin,

    // inverted index: per token the id-sorted posting + tf lists;
    // df > 200 tokens dropped (the hot-key cap)
    "posting_index" ->
      s"""WITH d AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
         |tf AS (SELECT token, CAST(doc_id AS BIGINT) AS id,
         |    CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, array_to_string(toks[i:i + 1], ' ')
         |      AS token
         |    FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i))
         |  GROUP BY 1, 2)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
         |  CAST(COUNT(*) AS BIGINT) AS n_postings,
         |  array_to_string(list(id ORDER BY id), ',') AS doc_ids_csv,
         |  array_to_string(list(tf ORDER BY id), ',') AS tfs_csv
         |FROM tf GROUP BY token HAVING COUNT(*) <= 100""".stripMargin,

    // hour-of-day profile: 24 exact counters; entropy terms pinned to
    // DECIMAL before the (<= 24-term) exact sum; one rounded night share
    "behavior_profile" -> {
      val hs = (0 until 24).map(k =>
        s"CAST(COUNT(*) FILTER (EXTRACT(hour FROM ts) = $k) AS BIGINT) AS h$k")
        .mkString(",\n|    ")
      val terms = (0 until 24).map { k =>
        s"""CASE WHEN h$k = 0 THEN CAST(0 AS DECIMAL(18,9))
           |    ELSE CAST(round(-(CAST(h$k AS DOUBLE) /
           |      CAST(n_events AS DOUBLE)) * ln(CAST(h$k AS DOUBLE) /
           |      CAST(n_events AS DOUBLE)), 9) AS DECIMAL(18,9)) END"""
          .stripMargin
      }.mkString(" +\n|  ")
      val arr = "concat_ws(',', " +
        (0 until 24).map(k => s"h$k").mkString(", ") + ")"
      val night = (0 until 6).map(k => s"h$k").mkString(" + ")
      s"""WITH $EV,
         |a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |    $hs
         |  FROM ev GROUP BY 1)
         |SELECT user_id, n_events,
         |  $arr AS hour_counts_csv,
         |  CAST($terms AS DOUBLE) AS activity_entropy,
         |  round(CAST($night AS DOUBLE) / n_events, 6) AS night_frac
         |FROM a""".stripMargin
    },

    // activity trend: OLS slope over (day index, daily count) — exact
    // BIGINT sums, one rounded double division, NULL on a degenerate fit
    "activity_trend" ->
      s"""WITH $EV,
         |d AS (SELECT user_id,
         |    CAST(date_diff('day', DATE '1970-01-01',
         |      date_trunc('day', ts)) AS BIGINT) AS x,
         |    CAST(COUNT(*) AS BIGINT) AS y
         |  FROM ev GROUP BY 1, 2),
         |s AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM d GROUP BY 1)
         |SELECT user_id, n_days,
         |  CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
         |    ELSE round(CAST(n_days * sxy - sx * sy AS DOUBLE) /
         |      CAST(n_days * sxx - sx * sx AS DOUBLE), 6) END AS slope
         |FROM s""".stripMargin,

    // quantile normalization: within-source percent_rank mapped to the
    // global value at rank 1 + floor(pr*(N-1) + 0.5) — rank selection
    "quantile_normalize" ->
      """WITH r AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS value,
        |    round(percent_rank() OVER (PARTITION BY source
        |      ORDER BY n_chars), 6) AS pr
        |  FROM documents),
        |g AS (SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id)
        |      AS BIGINT) AS grank,
        |    CAST(n_chars AS BIGINT) AS gv
        |  FROM documents),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
        |SELECT doc_id, source, value, pr, gv AS mapped
        |FROM r, nn
        |JOIN g ON g.grank =
        |  CAST(floor(pr * (n - 1) + 0.5) AS BIGINT) + 1""".stripMargin,

    // k-anonymity audit: QI-group sizes, risk flag below k
    "k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |  COUNT(*) < 10 AS at_risk
        |FROM customer GROUP BY 1, 2""".stripMargin,

    // seeded Laplace release: u from the md5 bridge, inverse-CDF noise in
    // one fixed-shape double expression
    "dp_counts" ->
      s"""WITH $EV,
         |c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ev
         |  GROUP BY 1),
         |uu AS (SELECT event_type, n,
         |    (CAST(${mh63("event_type || '|' || 'dp1'")} AS DOUBLE) + 1.0)
         |      / 9223372036854775808.0 AS u
         |  FROM c)
         |SELECT event_type, n,
         |  round(n + (-2.0) * sign(u - 0.5) *
         |    ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_n
         |FROM uu""".stripMargin,

    // Kaplan-Meier: exact at-risk/death counts; each ln factor pinned to
    // DECIMAL, ordered cumulative sum, one exp at the end
    "survival_km" ->
      s"""WITH $EV,
         |st AS (SELECT user_id, min(ts) AS s FROM ev
         |  WHERE event_type = 'signup' GROUP BY 1),
         |de AS (SELECT e.user_id, min(e.ts) AS d FROM ev e
         |  JOIN st USING (user_id)
         |  WHERE event_type = 'purchase' AND e.ts > s GROUP BY 1),
         |dur AS (SELECT st.user_id,
         |    CAST(CASE WHEN d IS NOT NULL THEN
         |        date_diff('day', date_trunc('day', s), date_trunc('day', d))
         |      ELSE date_diff('day', date_trunc('day', s),
         |        date_trunc('day', TIMESTAMP '2024-01-31 00:00:00')) END
         |      AS BIGINT) AS t_,
         |    d IS NOT NULL AS obs
         |  FROM st LEFT JOIN de ON st.user_id = de.user_id),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dur),
         |byt AS (SELECT t_ AS t,
         |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
         |    CAST(COUNT(*) AS BIGINT) AS lv
         |  FROM dur GROUP BY 1),
         |cur AS (SELECT t, d,
         |    CAST(n - COALESCE(SUM(lv) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS n_at_risk
         |  FROM byt, tot),
         |cc AS (SELECT t, d, n_at_risk,
         |    SUM(CASE WHEN d = n_at_risk THEN CAST(0 AS DECIMAL(18,9))
         |      ELSE CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk), 9)
         |        AS DECIMAL(18,9)) END)
         |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum,
         |    MAX(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
         |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS zeroed
         |  FROM cur WHERE d > 0)
         |SELECT t, d, n_at_risk,
         |  CASE WHEN zeroed = 1 THEN 0.0
         |    ELSE round(exp(CAST(cum AS DOUBLE)), 6) END AS km
         |FROM cc""".stripMargin,

    // JSON property extraction: same '$.k' path semantics, exact ints
    "json_props_rollup" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(MIN(k) AS BIGINT) AS min_k,
        |  CAST(MAX(k) AS BIGINT) AS max_k,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS ndv_k
        |FROM (SELECT event_type,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |GROUP BY 1""".stripMargin,

    // Pearson matrix: every Σ DECIMAL-exact in one scan; r is one
    // fixed-shape double expression per pair
    "feature_corr" -> {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def dc(c: String) = s"CAST($c AS DECIMAL(18,2))"
      val sums = cs.flatMap(c => Seq(
        s"SUM(${dc(c)}) AS s_$c", s"SUM(${dc(c)} * ${dc(c)}) AS ss_$c")) ++
        (for { i <- cs.indices; j <- cs.indices if i < j }
          yield s"SUM(${dc(cs(i))} * ${dc(cs(j))}) AS sp_${cs(i)}_${cs(j)}")
      val rows = (for { i <- cs.indices; j <- cs.indices if i < j } yield {
        val (a, b) = (cs(i), cs(j))
        def d(x: String) = s"CAST($x AS DOUBLE)"
        val va = s"(${d("n")} * ${d(s"ss_$a")} - ${d(s"s_$a")} * ${d(s"s_$a")})"
        val vb = s"(${d("n")} * ${d(s"ss_$b")} - ${d(s"s_$b")} * ${d(s"s_$b")})"
        s"""SELECT '$a' AS x_col, '$b' AS y_col, n,
           |  CASE WHEN $va = 0 OR $vb = 0 THEN NULL
           |    ELSE round((${d("n")} * ${d(s"sp_${a}_$b")} -
           |      ${d(s"s_$a")} * ${d(s"s_$b")}) / sqrt($va * $vb), 6) END
           |    AS r FROM s""".stripMargin
      }).mkString("\nUNION ALL ")
      s"""WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    ${sums.mkString(",\n|    ")}
         |  FROM lineitem)
         |$rows""".stripMargin
    },

    // ---------------------------------------------- round-5 additions

    // interval union coverage: gaps-and-islands running-max merge +
    // sweep-line depth (ends before starts at equal time; half-open)
    "interval_coverage" ->
      s"""WITH $EV,
         |iv AS (SELECT user_id, epoch_ms(ts) AS s_ms,
         |    epoch_ms(ts) + CAST(floor(value * 60000) AS BIGINT) AS e_ms
         |  FROM ev),
         |m AS (SELECT user_id, s_ms, e_ms,
         |    MAX(e_ms) OVER (PARTITION BY user_id ORDER BY s_ms, e_ms
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM iv),
         |isl AS (SELECT user_id, s_ms, e_ms,
         |    SUM(CASE WHEN pmax IS NULL OR s_ms > pmax THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY s_ms, e_ms
         |        ROWS UNBOUNDED PRECEDING) AS g
         |  FROM m),
         |gg AS (SELECT user_id, g, COUNT(*) AS n_iv, MIN(s_ms) AS a,
         |    MAX(e_ms) AS b
         |  FROM isl GROUP BY 1, 2),
         |cov AS (SELECT user_id, CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
         |    CAST(COUNT(*) AS BIGINT) AS n_islands,
         |    CAST(SUM(b - a) AS BIGINT) AS covered_ms
         |  FROM gg GROUP BY 1),
         |pts AS (SELECT user_id, s_ms AS t, 1 AS d FROM iv
         |  UNION ALL SELECT user_id, e_ms, -1 FROM iv),
         |dep AS (SELECT user_id, CAST(MAX(rs) AS BIGINT) AS max_depth
         |  FROM (SELECT user_id, SUM(d) OVER (PARTITION BY user_id
         |      ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS rs FROM pts)
         |  GROUP BY 1)
         |SELECT cov.user_id, n_intervals, n_islands, covered_ms, max_depth
         |FROM cov JOIN dep USING (user_id)""".stripMargin,

    // nearest-event join: union-window scan, backward/forward running
    // candidates, distance compare in micros; ties prefer backward
    "nearest_join" ->
      s"""WITH $EV,
         |p AS (SELECT user_id, ts, event_id, value FROM ev
         |  WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'click'),
         |u AS (SELECT user_id, ts, event_id, value AS lval, 1 AS isl,
         |    CAST(NULL AS DOUBLE) AS rval FROM p
         |  UNION ALL SELECT user_id, ts, NULL, NULL, 0, value FROM c),
         |sc AS (SELECT user_id, ts, event_id, lval, isl,
         |    last_value(CASE WHEN isl = 0 THEN ts END IGNORE NULLS)
         |      OVER wb AS b_ts,
         |    last_value(CASE WHEN isl = 0 THEN rval END IGNORE NULLS)
         |      OVER wb AS b_v,
         |    last_value(CASE WHEN isl = 0 THEN ts END IGNORE NULLS)
         |      OVER wf AS f_ts,
         |    last_value(CASE WHEN isl = 0 THEN rval END IGNORE NULLS)
         |      OVER wf AS f_v
         |  FROM u
         |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, isl, rval
         |      ROWS UNBOUNDED PRECEDING),
         |    wf AS (PARTITION BY user_id ORDER BY ts DESC, isl DESC, rval ASC
         |      ROWS UNBOUNDED PRECEDING))
         |SELECT user_id AS entity, event_id, epoch_ms(ts) AS ts_ms,
         |  lval AS label,
         |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
         |    WHEN f_ts IS NULL THEN epoch_ms(b_ts)
         |    WHEN b_ts IS NULL THEN epoch_ms(f_ts)
         |    WHEN epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts)
         |      THEN epoch_ms(b_ts) ELSE epoch_ms(f_ts) END AS near_ts_ms,
         |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
         |    WHEN f_ts IS NULL THEN b_v
         |    WHEN b_ts IS NULL THEN f_v
         |    WHEN epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts)
         |      THEN b_v ELSE f_v END AS near_value,
         |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
         |    WHEN f_ts IS NULL THEN 'b'
         |    WHEN b_ts IS NULL THEN 'f'
         |    WHEN epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts)
         |      THEN 'b' ELSE 'f' END AS near_dir
         |FROM sc WHERE isl = 1""".stripMargin,

    // closed-form OLS: DECIMAL-exact sums, Cramer minors as the IDENTICAL
    // fixed-shape double expressions the Spark side evaluates
    "linreg_fit" -> {
      def dc(c: String) = s"CAST($c AS DECIMAL(18,2))"
      s"""WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_raw,
         |    SUM(${dc("l_quantity")}) AS rs1, SUM(${dc("l_discount")}) AS rs2,
         |    SUM(${dc("l_extendedprice")}) AS rsy,
         |    SUM(${dc("l_quantity")} * ${dc("l_quantity")}) AS rs11,
         |    SUM(${dc("l_quantity")} * ${dc("l_discount")}) AS rs12,
         |    SUM(${dc("l_discount")} * ${dc("l_discount")}) AS rs22,
         |    SUM(${dc("l_quantity")} * ${dc("l_extendedprice")}) AS rs1y,
         |    SUM(${dc("l_discount")} * ${dc("l_extendedprice")}) AS rs2y,
         |    SUM(${dc("l_extendedprice")} * ${dc("l_extendedprice")}) AS rsyy
         |  FROM lineitem),
         |d AS (SELECT n_raw, CAST(n_raw AS DOUBLE) AS n,
         |    CAST(rs1 AS DOUBLE) AS s1, CAST(rs2 AS DOUBLE) AS s2,
         |    CAST(rsy AS DOUBLE) AS sy, CAST(rs11 AS DOUBLE) AS s11,
         |    CAST(rs12 AS DOUBLE) AS s12, CAST(rs22 AS DOUBLE) AS s22,
         |    CAST(rs1y AS DOUBLE) AS s1y, CAST(rs2y AS DOUBLE) AS s2y,
         |    CAST(rsyy AS DOUBLE) AS syy
         |  FROM s),
         |m AS (SELECT *,
         |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
         |      s2 * (s1 * s12 - s11 * s2) AS det,
         |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s2y * s12) +
         |      s2 * (s1y * s12 - s2y * s11) AS det0,
         |    n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2) +
         |      s2 * (s1 * s2y - s1y * s2) AS det1,
         |    n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s2 * s1y) +
         |      sy * (s1 * s12 - s11 * s2) AS det2
         |  FROM d),
         |b AS (SELECT *, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
         |  FROM m)
         |SELECT n_raw AS n,
         |  CASE WHEN det = 0 THEN NULL ELSE round(b0, 6) END AS b0,
         |  CASE WHEN det = 0 THEN NULL ELSE round(b1, 6) END AS b1,
         |  CASE WHEN det = 0 THEN NULL ELSE round(b2, 6) END AS b2,
         |  CASE WHEN (syy - sy * sy / n) = 0 OR det = 0 THEN NULL
         |    ELSE round(1.0 - (syy - 2.0 * (b0 * sy + b1 * s1y + b2 * s2y) +
         |      (b0 * b0 * n + b1 * b1 * s11 + b2 * b2 * s22 +
         |        2.0 * (b0 * b1 * s1 + b0 * b2 * s2 + b1 * b2 * s12))) /
         |      (syy - sy * sy / n), 6) END AS r2
         |FROM b""".stripMargin
    },

    // multinomial naive Bayes: every ln pinned round(·,9) DECIMAL before
    // exact summation; argmax ties to the smallest class
    "naive_bayes_lang" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest($TOKS_LOWER) AS t
         |  FROM documents),
         |tc AS (SELECT lang, t, COUNT(*) AS ntc FROM tok GROUP BY 1, 2),
         |ct AS (SELECT lang, COUNT(*) AS totc FROM tok GROUP BY 1),
         |vv AS (SELECT COUNT(DISTINCT t) AS v FROM tok),
         |nd AS (SELECT COUNT(*) AS nn FROM documents),
         |dl AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
         |pr AS (SELECT dl.lang, ct.totc, vv.v,
         |    CAST(round(ln(CAST(dl.cnt AS DOUBLE) / nd.nn), 9)
         |      AS DECIMAL(18,9)) AS prior
         |  FROM dl, nd, vv, ct WHERE ct.lang = dl.lang),
         |dt AS (SELECT doc_id, t, COUNT(*) AS cdt FROM tok GROUP BY 1, 2),
         |grid AS (SELECT dt.doc_id, pr.lang,
         |    CAST(dt.cdt AS DECIMAL(12,0)) *
         |      CAST(round(ln(CAST(COALESCE(tc.ntc, 0) + 1 AS DOUBLE) /
         |        CAST(pr.totc + pr.v AS DOUBLE)), 9) AS DECIMAL(18,9)) AS term
         |  FROM dt CROSS JOIN pr
         |  LEFT JOIN tc ON tc.lang = pr.lang AND tc.t = dt.t),
         |sc AS (SELECT doc_id, lang, SUM(term) AS lk FROM grid GROUP BY 1, 2),
         |fin AS (SELECT sc.doc_id, sc.lang, sc.lk + pr.prior AS score
         |  FROM sc JOIN pr ON pr.lang = sc.lang),
         |p AS (SELECT doc_id, lang AS pred FROM fin
         |  QUALIFY row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, lang) = 1)
         |SELECT d.doc_id, d.lang AS actual, p.pred,
         |  CAST(CASE WHEN d.lang = p.pred THEN 1 ELSE 0 END AS BIGINT) AS hit
         |FROM documents d JOIN p USING (doc_id)""".stripMargin,

    // triangle participation in the co-order part graph: plain a<b<c
    // 3-way join (the oracle shape; Spark runs the degree-ordered
    // orientation — same triangle set by construction)
    "triangle_count" ->
      """WITH e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey),
        |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |vc AS (SELECT vx, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT u AS vx FROM tri UNION ALL SELECT v FROM tri
        |    UNION ALL SELECT w FROM tri)
        |  GROUP BY 1)
        |SELECT CAST(vx AS BIGINT) AS part, n_triangles FROM vc
        |ORDER BY n_triangles DESC, part LIMIT 25""".stripMargin,

    // EWMA left fold replayed exactly by a per-key recursive CTE
    // (α = 1/4 — exact binary fraction, identical IEEE sequence)
    "ewma_smooth" ->
      s"""WITH RECURSIVE $EV,
         |x AS (SELECT user_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM ev),
         |r AS (SELECT user_id, rn, value AS e FROM x WHERE rn = 1
         |  UNION ALL
         |  SELECT x.user_id, x.rn, 0.25 * x.value + 0.75 * r.e
         |  FROM r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1),
         |f AS (SELECT user_id, MAX(rn) AS mx FROM x GROUP BY 1)
         |SELECT r.user_id, CAST(f.mx AS BIGINT) AS n_events,
         |  round(r.e, 6) AS ewma
         |FROM r JOIN f ON r.user_id = f.user_id AND r.rn = f.mx""".stripMargin,

    // Holt double-exponential smoothing: recursive-CTE replay of the
    // IEEE fold; the b-update re-derives l_n textually (same doubles)
    "holt_trend" ->
      s"""WITH RECURSIVE $EV,
         |x AS (SELECT user_id, CAST(value AS DOUBLE) AS v,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM ev),
         |r AS (SELECT user_id, rn, v AS l, CAST(0.0 AS DOUBLE) AS b
         |  FROM x WHERE rn = 1
         |  UNION ALL
         |  SELECT x.user_id, x.rn,
         |    0.25 * x.v + 0.75 * (r.l + r.b),
         |    0.25 * ((0.25 * x.v + 0.75 * (r.l + r.b)) - r.l) + 0.75 * r.b
         |  FROM r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1),
         |f AS (SELECT user_id, MAX(rn) AS mx FROM x GROUP BY 1)
         |SELECT r.user_id, CAST(f.mx AS BIGINT) AS n_events,
         |  round(r.l, 6) AS level, round(r.b, 6) AS trend,
         |  round(r.l + r.b, 6) AS forecast
         |FROM r JOIN f ON r.user_id = f.user_id AND r.rn = f.mx""".stripMargin,

    // day-of-week seasonality: dow = isodow-1 ≡ Spark weekday (0=Mon);
    // observed-day means, factor = one rounded division of pinned means
    "seasonal_dow" ->
      s"""WITH $EV,
         |daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
         |    CAST(COUNT(*) AS BIGINT) AS cnt FROM ev GROUP BY 1, 2),
         |bd AS (SELECT g, CAST(isodow(d) - 1 AS BIGINT) AS dow,
         |    CAST(COUNT(*) AS BIGINT) AS n_days,
         |    CAST(SUM(cnt) AS BIGINT) AS total
         |  FROM daily GROUP BY 1, 2),
         |ov AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS gn,
         |    CAST(SUM(cnt) AS BIGINT) AS gt FROM daily GROUP BY 1)
         |SELECT bd.g, dow, n_days, total,
         |  round(CAST(total AS DOUBLE) / n_days, 6) AS mean_cnt,
         |  round(round(CAST(total AS DOUBLE) / n_days, 6) /
         |    round(CAST(gt AS DOUBLE) / gn, 6), 6) AS factor
         |FROM bd JOIN ov USING (g)""".stripMargin,

    // hashing-trick features: md5 bucket + md5 sign bit, BIGINT counts,
    // fixed-order 16-dim list
    "feature_hash" ->
      s"""WITH $EV,
         |tok AS (SELECT user_id, unnest([event_type,
         |    'vb' || CAST(CAST(floor(value / 50) AS BIGINT) AS VARCHAR)])
         |    AS tk FROM ev),
         |ht AS (SELECT user_id,
         |    CAST(${mh63("tk")} % 16 AS INT) AS j,
         |    CASE WHEN md5_number_lower(tk || '|s') % 2 = 1 THEN 1 ELSE -1 END
         |      AS sgn
         |  FROM tok),
         |g AS (SELECT user_id, j, CAST(SUM(sgn) AS BIGINT) AS c
         |  FROM ht GROUP BY 1, 2),
         |grid AS (SELECT u.user_id, CAST(t.j AS INT) AS j
         |  FROM (SELECT DISTINCT user_id FROM g) u
         |  CROSS JOIN range(16) t(j)),
         |fz AS (SELECT grid.user_id, grid.j, COALESCE(g.c, 0) AS c
         |  FROM grid LEFT JOIN g ON g.user_id = grid.user_id AND g.j = grid.j)
         |SELECT user_id, j, CAST(c AS BIGINT) AS c FROM fz""".stripMargin,

    // streaming interval join emits exactly the batch interval join
    "stream_interval_join" ->
      s"""WITH $EV,
         |l AS (SELECT user_id, value AS lv, ts AS lts FROM ev
         |  WHERE event_type = 'click'),
         |r AS (SELECT user_id, value AS rv, ts AS rts FROM ev
         |  WHERE event_type = 'purchase')
         |SELECT l.user_id AS entity, epoch_ms(lts) AS l_ts_ms, lv AS l_value,
         |  epoch_ms(rts) AS r_ts_ms, rv AS r_value
         |FROM l JOIN r ON l.user_id = r.user_id
         |  AND rts >= lts AND rts < lts + INTERVAL 7200 SECOND""".stripMargin,

    // watermark-flushed LEFT OUTER interval join == the batch left join
    "stream_interval_join_outer" ->
      s"""WITH $EV,
         |l AS (SELECT user_id, value AS lv, ts AS lts FROM ev
         |  WHERE event_type = 'click'),
         |r AS (SELECT user_id, value AS rv, ts AS rts FROM ev
         |  WHERE event_type = 'purchase')
         |SELECT l.user_id AS entity, epoch_ms(lts) AS l_ts_ms, lv AS l_value,
         |  epoch_ms(rts) AS r_ts_ms, rv AS r_value
         |FROM l LEFT JOIN r ON l.user_id = r.user_id
         |  AND rts >= lts AND rts < lts + INTERVAL 7200 SECOND""".stripMargin,

    // NDCG@10 + MRR per BM25 query: the bm25_topk replay, then pinned
    // discounted gains (1/(ln(r+1)/ln 2) rounded to 9dp DECIMAL) summed
    // exactly; contains-all binary relevance
    "retrieval_ndcg" -> {
      val queries = Seq(Seq("join", "vector"), Seq("stream"),
        Seq("shuffle", "partition"))
      val gain = (r: String) =>
        s"CAST(round(1.0 / (ln(CAST($r + 1 AS DOUBLE)) / ln(2.0)), 9) " +
          "AS DECIMAL(18,9))"
      val blocks = queries.zipWithIndex.map { case (terms, qi) =>
        val name = terms.mkString(" ")
        val tfs = terms.zipWithIndex.map { case (tm, i) =>
          s"CAST(len(list_filter($TOKS_LOWER, t -> t = '$tm')) AS BIGINT) AS tf$i"
        }.mkString(",\n|      ")
        val dfs = terms.indices.map(i =>
          s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
          .mkString(",\n|      ")
        val contribs = terms.indices.map { i =>
          s"""(ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) *
             |       (CAST(tf$i AS DOUBLE) * (1.2 + 1.0)) /
             |       (CAST(tf$i AS DOUBLE) +
             |        1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))"""
            .stripMargin
        }.mkString(" +\n|    ")
        val anyHit = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
        val allHit = terms.indices.map(i => s"tf$i > 0").mkString(" AND ")
        s"""b$qi AS (SELECT doc_id,
           |      CAST(len($TOKS_LOWER) AS BIGINT) AS dl,
           |      $tfs
           |    FROM documents),
           |  s$qi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |      CAST(SUM(dl) AS BIGINT) AS sumdl,
           |      $dfs
           |    FROM b$qi),
           |  sc$qi AS (SELECT doc_id, round($contribs, 6) AS bm25
           |    FROM (SELECT b.*, s.*, CAST(s.sumdl AS DOUBLE) / s.n AS avgdl
           |          FROM b$qi b CROSS JOIN s$qi s)
           |    WHERE $anyHit),
           |  top$qi AS (SELECT doc_id,
           |      row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
           |    FROM sc$qi QUALIFY rnk <= 10),
           |  rel$qi AS (SELECT doc_id,
           |      CASE WHEN $allHit THEN 1 ELSE 0 END AS rel FROM b$qi),
           |  nr$qi AS (SELECT CAST(SUM(rel) AS BIGINT) AS nrel FROM rel$qi),
           |  dc$qi AS (SELECT
           |      SUM(CAST(rel AS DECIMAL(12,0)) * ${gain("rnk")}) AS dcg,
           |      MIN(CASE WHEN rel = 1 THEN rnk END) AS frst
           |    FROM top$qi JOIN rel$qi USING (doc_id)),
           |  id$qi AS (SELECT SUM(${gain("rnk")}) AS idcg
           |    FROM (SELECT CAST(t.r AS BIGINT) AS rnk
           |          FROM range(1, 11) t(r)) x CROSS JOIN nr$qi
           |    WHERE rnk <= nrel)""".stripMargin ->
          s"""SELECT '$name' AS query, nrel AS n_rel,
             |  CASE WHEN idcg IS NULL THEN 0.0
             |    ELSE round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
             |    END AS ndcg,
             |  CASE WHEN frst IS NULL THEN 0.0
             |    ELSE round(1.0 / frst, 9) END AS mrr
             |FROM dc$qi CROSS JOIN id$qi CROSS JOIN nr$qi""".stripMargin
      }
      s"""WITH ${blocks.map(_._1).mkString(",\n  ")}
         |${blocks.map(_._2).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // product quantization: four independent 16-dim subspace codebooks
    // (kmeans replay each, seeded pq0..pq3), codes joined on vec_id
    "pq_codes" -> {
      val subs = (0 until 4).map(m =>
        kmeansCtes(16, 1, p = s"q$m", vecExpr = s"embedding[${m * 16 + 1}:${m * 16 + 16}]",
          seed = s"pq$m")).mkString(",\n")
      s"""WITH $subs
         |SELECT q0a1.vec_id, q0a1.cell AS code0, q1a1.cell AS code1,
         |  q2a1.cell AS code2, q3a1.cell AS code3
         |FROM q0a1 JOIN q1a1 USING (vec_id) JOIN q2a1 USING (vec_id)
         |JOIN q3a1 USING (vec_id)""".stripMargin
    },

    // ADC search replay: LUT entries are list_dot_product of the query
    // subvector against the normalized kmeans centroid (≡ the driver's
    // left-to-right fold), scores the 4 lookups added in subspace order
    "pq_search" -> {
      val M = 8
      val sd = 8
      val subs = (0 until M).map(m =>
        kmeansCtes(16, 3, p = s"q$m",
          vecExpr = s"embedding[${m * sd + 1}:${m * sd + sd}]",
          seed = s"pq$m")).mkString(",\n")
      val luts = (0 until M).map { m =>
        val lo = m * sd + 1
        val hi = m * sd + sd
        s"""lut$m AS (SELECT q.qid, c.cell,
           |    list_dot_product(q.qv[$lo:$hi], c.cv) AS d
           |  FROM qq q CROSS JOIN q${m}c3 c)""".stripMargin
      }.mkString(",\n")
      val codeJoins = (1 until M).map(m => s"JOIN q${m}a3 USING (vec_id)")
        .mkString(" ")
      val lutJoins = (1 until M).map(m =>
        s"JOIN lut$m l$m ON l$m.qid = l0.qid AND l$m.cell = q${m}a3.cell")
        .mkString("\n|  ")
      val scoreSum = (0 until M).map(m => s"l$m.d").mkString(" + ")
      s"""WITH $subs,
         |qq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |$luts,
         |sc AS (SELECT l0.qid, q0a3.vec_id,
         |    round($scoreSum, 6) AS adc
         |  FROM q0a3 $codeJoins
         |  JOIN lut0 l0 ON l0.cell = q0a3.cell
         |  $lutJoins),
         |short AS (SELECT qid, vec_id FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY adc DESC, vec_id) <= 50),
         |ex AS (SELECT s.qid, s.vec_id,
         |    round(list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) /
         |      (sqrt(list_dot_product(q.qv, q.qv)) *
         |       sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
         |         CAST(e.embedding AS DOUBLE[])))), 6) AS cosine
         |  FROM short s JOIN qq q ON q.qid = s.qid
         |  JOIN embeddings e ON e.vec_id = s.vec_id)
         |SELECT qid AS query_id, vec_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
         |FROM ex
         |QUALIFY rank <= 10""".stripMargin
    },

    // rolling 7-day actives: bounded explode to window ends, exact
    // distinct beside the full HLL sketch replay (hll_profile bridge)
    "rolling_active" ->
      s"""WITH $EV,
         |ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM ev),
         |uw AS (SELECT user_id, d + CAST(t.k AS INTEGER) AS w
         |  FROM ud CROSS JOIN range(0, 7) t(k)),
         |h AS (SELECT w, ${mh63("CAST(user_id AS VARCHAR)")} AS hv
         |  FROM (SELECT DISTINCT user_id, w FROM uw)),
         |b AS (SELECT w, hv & 1023 AS bucket, hv >> 10 AS wd FROM h),
         |r AS (SELECT w, bucket,
         |    max(CASE WHEN wd = 0 THEN 54 ELSE 54 - length(bin(wd)) END) AS m_j
         |  FROM b GROUP BY 1, 2),
         |agg AS (SELECT w,
         |    SUM(CAST(CAST(1 AS BIGINT) << (54 - m_j) AS HUGEINT)) AS n_present,
         |    CAST(1024 - COUNT(*) AS BIGINT) AS v
         |  FROM r GROUP BY 1),
         |est AS (SELECT w, v,
         |    0.7213 / (1.0 + 1.079 / 1024) * 1024 * 1024 * (2.0 ** 54) /
         |      CAST(n_present + CAST(v AS HUGEINT) * (CAST(1 AS HUGEINT) << 54)
         |        AS DOUBLE) AS e_raw
         |  FROM agg),
         |fin AS (SELECT w,
         |    CASE WHEN e_raw <= 2.5 * 1024 AND v > 0
         |         THEN 1024 * ln(1024.0 / v) ELSE e_raw END AS e
         |  FROM est)
         |SELECT CAST(f.w AS VARCHAR) AS window_end, x.n_exact,
         |  CAST(floor(e + 0.5) AS BIGINT) AS n_hll
         |FROM fin f JOIN (
         |  SELECT w, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM uw GROUP BY 1) x USING (w)""".stripMargin,

    // incremental partial-aggregate maintenance must equal the recompute
    "incremental_rollup" ->
      s"""WITH $EV
         |SELECT user_id AS entity, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
         |  CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
         |  CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_v
         |FROM ev GROUP BY 1""".stripMargin,

    // Markov argmax next-event prediction scored on the post-cut tail
    "markov_accuracy" ->
      s"""WITH $EV,
         |nx AS (SELECT user_id, ts, event_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS next_type,
         |    lead(ts) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS next_ts
         |  FROM ev),
         |wn AS (SELECT * FROM nx WHERE next_type IS NOT NULL),
         |tr AS (SELECT event_type, next_type, COUNT(*) AS n FROM wn
         |  WHERE next_ts < TIMESTAMP '2024-01-22 00:00:00' GROUP BY 1, 2),
         |p AS (SELECT event_type, next_type AS pred FROM tr
         |  QUALIFY row_number() OVER (PARTITION BY event_type
         |    ORDER BY n DESC, next_type) = 1),
         |te AS (SELECT wn.event_type, wn.next_type FROM wn
         |  WHERE next_ts >= TIMESTAMP '2024-01-22 00:00:00')
         |SELECT te.event_type, p.pred, CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(CASE WHEN te.next_type = p.pred THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit
         |FROM te JOIN p USING (event_type) GROUP BY 1, 2""".stripMargin,

    // Flesch reading ease from the same three regexp counters
    "flesch_readability" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len($TOKS_RAW) AS BIGINT) AS w,
         |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
         |      AS BIGINT)) AS sents,
         |    greatest(1, CAST(len(regexp_extract_all(lower(text),
         |      '[aeiouy]+')) AS BIGINT)) AS syl
         |  FROM documents)
         |SELECT doc_id, w AS n_words, sents AS n_sentences,
         |  syl AS n_syllables,
         |  round(206.835 -
         |    1.015 * (CAST(w AS DOUBLE) / CAST(sents AS DOUBLE)) -
         |    84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)), 6) AS flesch
         |FROM d WHERE w > 0""".stripMargin,

    // order-independent xor checksums over md5 row keys
    "audit_checksum" -> {
      def chk(name: String, tbl: String, key: String) =
        s"""SELECT '$name' AS table_name, CAST(COUNT(*) AS BIGINT) AS n,
           |  bit_xor(${mh63(key)}) AS checksum FROM $tbl""".stripMargin
      chk("orders", "orders",
        "concat_ws('|', o_orderkey, o_custkey)") +
        "\nUNION ALL\n" +
        chk("lineitem", "lineitem",
          "concat_ws('|', l_orderkey, l_partkey, l_linenumber)") +
        "\nUNION ALL\n" +
        chk("customer", "customer",
          "concat_ws('|', c_custkey, c_nationkey)")
    },

    // 50 half-sample means gated by one md5's bit-plane, one scan,
    // nearest-rank p5/p95 via list_sort
    "bootstrap_ci" -> {
      val sums = (0 until 50).map(b =>
        s"SUM(CASE WHEN (h >> $b) & 1 = 0 THEN qc END) AS s$b,\n" +
          s"|    SUM(CASE WHEN (h >> $b) & 1 = 0 THEN 1 END) AS c$b")
        .mkString(",\n|    ")
      val lst = (0 until 50).map(b => s"CAST(s$b AS DOUBLE) / 100.0 / c$b")
        .mkString("[", ", ", "]")
      s"""WITH li AS (SELECT
         |    ${mh63("concat_ws('|', l_orderkey, l_linenumber)")} AS h,
         |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qc
         |  FROM lineitem),
         |agg AS (SELECT SUM(qc) AS tot, COUNT(*) AS n,
         |    $sums
         |  FROM li),
         |srt AS (SELECT *, list_sort($lst) AS l FROM agg)
         |SELECT CAST(n AS BIGINT) AS n,
         |  round(CAST(tot AS DOUBLE) / 100.0 / n, 6) AS mean_full,
         |  round(l[3], 6) AS ci_lo, round(l[48], 6) AS ci_hi
         |FROM srt""".stripMargin
    },

    // CUSUM recurrence replayed per key: s1 recomputed identically in
    // each CASE arm (same IEEE expression), reset-on-alarm, running max
    // tracked pre-reset
    "cusum_drift" ->
      s"""WITH RECURSIVE $EV,
         |x AS (SELECT user_id, value, epoch_ms(ts) AS ms,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM ev),
         |r AS (
         |  SELECT user_id, rn,
         |    CASE WHEN s1 > 500.0 THEN 0.0 ELSE s1 END AS s,
         |    s1 AS mx,
         |    CASE WHEN s1 > 500.0 THEN 1 ELSE 0 END AS alarms,
         |    CASE WHEN s1 > 500.0 THEN ms END AS first_ms
         |  FROM (SELECT user_id, rn, ms,
         |      greatest(0.0, 0.0 + (value - 250.0 - 25.0)) AS s1
         |    FROM x WHERE rn = 1)
         |  UNION ALL
         |  SELECT user_id, rn,
         |    CASE WHEN s1 > 500.0 THEN 0.0 ELSE s1 END,
         |    greatest(mx, s1),
         |    alarms + CASE WHEN s1 > 500.0 THEN 1 ELSE 0 END,
         |    COALESCE(first_ms, CASE WHEN s1 > 500.0 THEN ms END)
         |  FROM (SELECT x.user_id, x.rn, x.ms, r.mx, r.alarms, r.first_ms,
         |      greatest(0.0, r.s + (x.value - 250.0 - 25.0)) AS s1
         |    FROM r JOIN x ON x.user_id = r.user_id AND x.rn = r.rn + 1)),
         |f AS (SELECT user_id, MAX(rn) AS mxrn FROM x GROUP BY 1)
         |SELECT r.user_id, CAST(f.mxrn AS BIGINT) AS n_events,
         |  CAST(r.alarms AS BIGINT) AS n_alarms,
         |  CAST(r.first_ms AS BIGINT) AS first_alarm_ms,
         |  round(r.mx, 6) AS max_stat
         |FROM r JOIN f ON r.user_id = f.user_id AND r.rn = f.mxrn""".stripMargin,

    // l-diversity audit: distinct sensitive values per QI group
    "l_diversity" ->
      """SELECT c.c_mktsegment AS segment,
        |  CAST(CAST(date_trunc('month', o.o_orderdate) AS DATE) AS VARCHAR)
        |    AS month,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l_sensitive,
        |  CAST(CASE WHEN COUNT(DISTINCT o.o_orderpriority) < 3 THEN 1 ELSE 0
        |    END AS BIGINT) AS at_risk
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,

    // stream-static broadcast enrichment == the batch join
    "stream_static_join" ->
      s"""WITH $EV
         |SELECT e.user_id AS entity, epoch_ms(e.ts) AS ts_ms, e.value,
         |  c.c_mktsegment AS segment
         |FROM ev e LEFT JOIN customer c ON e.user_id + 1 = c.c_custkey"""
        .stripMargin,

    // PAV isotonic fit via the minimax identity
    // fit_i = max_{j<=i} min_{k>=i} mean(y[j..k]) — same integers, same
    // final double division as the Spark fold
    "isotonic_calibration" ->
      s"""WITH $EV,
         |b AS (SELECT user_id % 4 AS key, CAST(floor(value / 25) AS BIGINT) AS x,
         |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ys,
         |    COUNT(*) AS n
         |  FROM ev GROUP BY 1, 2),
         |pairs AS (SELECT j.key, j.x AS jx, k.x AS kx
         |  FROM b j JOIN b k ON j.key = k.key AND j.x <= k.x),
         |rng AS (SELECT p.key, p.jx, p.kx,
         |    SUM(m.ys) AS s, SUM(m.n) AS cnt
         |  FROM pairs p JOIN b m ON m.key = p.key
         |    AND m.x BETWEEN p.jx AND p.kx
         |  GROUP BY 1, 2, 3),
         |inr AS (SELECT b.key, b.x AS i, r.jx,
         |    MIN(CAST(r.s AS DOUBLE) / r.cnt) AS mn
         |  FROM b JOIN rng r ON r.key = b.key AND r.jx <= b.x AND r.kx >= b.x
         |  GROUP BY 1, 2, 3),
         |ft AS (SELECT key, i, MAX(mn) AS f FROM inr GROUP BY 1, 2)
         |SELECT ft.key, ft.i AS x, b.n, round(ft.f, 9) AS fit
         |FROM ft JOIN b ON b.key = ft.key AND b.x = ft.i""".stripMargin,

    // first/last-touch attribution: clicks in [p.ts - 7d, p.ts) per
    // purchase, purchases with no click keep NULL/0
    "attribution_touch" ->
      s"""WITH $EV,
         |c AS (SELECT user_id, ts AS c_ts FROM ev WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM ev
         |  WHERE event_type = 'purchase'),
         |j AS (SELECT p.p_id, MIN(c.c_ts) AS frst, MAX(c.c_ts) AS lst,
         |    COUNT(*) AS n
         |  FROM p JOIN c ON c.user_id = p.user_id
         |    AND c.c_ts >= p.p_ts - INTERVAL 7 DAY AND c.c_ts < p.p_ts
         |  GROUP BY 1)
         |SELECT p.p_id, p.user_id AS entity, epoch_ms(p.p_ts) AS p_ts_ms,
         |  epoch_ms(j.frst) AS first_click_ms, epoch_ms(j.lst) AS last_click_ms,
         |  CAST(COALESCE(j.n, 0) AS BIGINT) AS n_clicks
         |FROM p LEFT JOIN j USING (p_id)""".stripMargin,

    // Jaro-Winkler record linkage on 40-char doc-name prefixes, 2-token
    // blocking (fuzzyLink's bounded default; concat_ws of split_part 1..2
    // behaves identically in both engines incl. '' for missing tokens);
    // duckdb's jaro_winkler_similarity is bit-identical to the
    // graft.functions.expressions.JaroWinkler textbook pinning (boost
    // threshold 0.7, prefix cap 4, scale 0.1), so the >= 0.9 gate agrees
    "fuzzy_link" ->
      """WITH names AS (
        |  SELECT doc_id, substr(trim(text), 1, 40) AS nm,
        |    concat_ws(' ', split_part(substr(trim(text), 1, 40), ' ', 1),
        |      split_part(substr(trim(text), 1, 40), ' ', 2)) AS blk
        |  FROM documents WHERE length(trim(text)) >= 10)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(jaro_winkler_similarity(a.nm, b.nm), 6) AS jw
        |FROM names a JOIN names b
        |  ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.9""".stripMargin,

    // multi-pass blocking: the prefix pass compares raw names; the
    // sorted-neighborhood pass blocks on the sorted 2-token key and
    // compares the fully token-sorted names (JW's prefix weighting would
    // reject the transpositions the key exists to catch); best score per
    // pair. Caps don't fire at sf0.01, so the union replays directly.
    "fuzzy_link_multipass" ->
      """WITH names AS (
        |  SELECT doc_id, substr(trim(text), 1, 40) AS nm,
        |    concat_ws(' ', split_part(substr(trim(text), 1, 40), ' ', 1),
        |      split_part(substr(trim(text), 1, 40), ' ', 2)) AS blk,
        |    concat_ws(' ',
        |      least(split_part(substr(trim(text), 1, 40), ' ', 1),
        |            split_part(substr(trim(text), 1, 40), ' ', 2)),
        |      greatest(split_part(substr(trim(text), 1, 40), ' ', 1),
        |               split_part(substr(trim(text), 1, 40), ' ', 2))) AS blks,
        |    array_to_string(list_sort(string_split(substr(trim(text), 1, 40), ' ')), ' ') AS snm
        |  FROM documents WHERE length(trim(text)) >= 10),
        |passes AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(jaro_winkler_similarity(a.nm, b.nm), 6) AS jw
        |  FROM names a JOIN names b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |  WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.9
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id,
        |    round(jaro_winkler_similarity(a.snm, b.snm), 6) AS jw
        |  FROM names a JOIN names b ON a.blks = b.blks AND a.doc_id < b.doc_id
        |  WHERE jaro_winkler_similarity(a.snm, b.snm) >= 0.9)
        |SELECT id_a, id_b, MAX(jw) AS jw FROM passes GROUP BY 1, 2""".stripMargin,

    // exact Mann-Whitney AUC over the distinct-score histogram; every term
    // integer until the final division (both engines round doubles
    // half-away-from-zero)
    "binary_auc" ->
      s"""WITH $EV,
         |g AS (SELECT round(value, 2) AS s,
         |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos,
         |    SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS neg
         |  FROM ev GROUP BY 1),
         |c AS (SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
         |  FROM g)
         |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         |  CAST(SUM(neg) AS BIGINT) AS n_neg,
         |  round(CAST(SUM(pos * (2 * nb + neg)) AS DOUBLE) /
         |    CAST(2 * SUM(pos) * SUM(neg) AS DOUBLE), 6) AS auc
         |FROM c""".stripMargin,

    // KS statistic: exact-integer CDF gap |cp*N - cn*P| maximized over the
    // distinct-score grid, smallest attaining score as the cut point
    "ks_statistic" ->
      s"""WITH $EV,
         |g AS (SELECT round(value, 2) AS s,
         |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos,
         |    SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS neg
         |  FROM ev
         |  WHERE value IS NOT NULL AND event_type IS NOT NULL
         |  GROUP BY 1),
         |c AS (SELECT s,
         |    SUM(pos) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
         |    SUM(neg) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
         |  FROM g),
         |t AS (SELECT CAST(SUM(pos) AS BIGINT) AS p,
         |    CAST(SUM(neg) AS BIGINT) AS n FROM g),
         |d AS (SELECT s,
         |    abs(CAST(cp AS HUGEINT) * n - CAST(cn AS HUGEINT) * p) AS diff
         |  FROM c, t)
         |SELECT t.p AS n_pos, t.n AS n_neg,
         |  round(CAST(diff AS DOUBLE) /
         |    (CAST(t.p AS DOUBLE) * CAST(t.n AS DOUBLE)), 6) AS ks,
         |  s AS ks_at_score
         |FROM d, t ORDER BY diff DESC, s LIMIT 1""".stripMargin,

    // chi-square token selection: AD-BC exact (HUGEINT ≡ Spark DECIMAL),
    // one fixed-shape double statistic, top-15 per class on (chi2, token)
    "chi2_tokens" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, lang AS cls, t AS token
         |  FROM (SELECT doc_id, lang, unnest($TOKS_LOWER) AS t
         |        FROM documents)),
         |tc AS (SELECT token, cls, CAST(COUNT(*) AS BIGINT) AS a
         |  FROM dt GROUP BY 1, 2),
         |tt AS (SELECT token, CAST(SUM(a) AS BIGINT) AS df FROM tc
         |  GROUP BY 1 HAVING SUM(a) >= 5),
         |ct AS (SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM documents GROUP BY 1),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |sc AS (SELECT cls, token, df, a AS in_class,
         |    round(CAST(n AS DOUBLE) *
         |      CAST(CAST(a AS HUGEINT) * (n - df - c + a) -
         |        CAST(df - a AS HUGEINT) * (c - a) AS DOUBLE) *
         |      CAST(CAST(a AS HUGEINT) * (n - df - c + a) -
         |        CAST(df - a AS HUGEINT) * (c - a) AS DOUBLE) /
         |      (CAST(df AS DOUBLE) * CAST(n - df AS DOUBLE) *
         |       CAST(c AS DOUBLE) * CAST(n - c AS DOUBLE)), 6) AS chi2
         |  FROM tc JOIN tt USING (token) JOIN ct USING (cls), nn
         |  WHERE n - df > 0 AND n - c > 0)
         |SELECT cls, token, df, in_class, chi2 FROM sc
         |QUALIFY row_number() OVER (PARTITION BY cls
         |  ORDER BY chi2 DESC, token) <= 15""".stripMargin,

    // order-2 path mining: two LEADs over the per-user (ts, id) order,
    // top-50 trigram counts with the full lexicographic tie-break
    "path_trigrams" ->
      s"""WITH $EV,
         |tri AS (SELECT event_type AS e1,
         |    lead(event_type, 1) OVER w AS e2,
         |    lead(event_type, 2) OVER w AS e3
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
         |FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
         |GROUP BY 1, 2, 3
         |ORDER BY n DESC, e1, e2, e3 LIMIT 50""".stripMargin,

    // CUBE grouping sets with GROUPING flags (same SQL text as the T1
    // transform modulo the template placeholder)
    "q_cube" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin,

    // decayed engagement: integer day ages, weights and weighted values
    // pinned round(·,9)→DECIMAL before exact per-user sums
    "decay_features" ->
      s"""WITH $EV,
         |ao AS (SELECT MAX(CAST(ts AS DATE)) AS a FROM ev),
         |aged AS (SELECT user_id,
         |    CAST(date_diff('day', CAST(ts AS DATE), a) AS BIGINT) AS d,
         |    CAST(value AS DECIMAL(18,2)) AS v
         |  FROM ev, ao),
         |ww AS (SELECT user_id,
         |    CAST(round(exp(CAST(d AS DOUBLE) * (-ln(2.0) / 7)), 9)
         |      AS DECIMAL(18,9)) AS w, v
         |  FROM aged)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(w) AS DOUBLE) AS decayed_count,
         |  CAST(SUM(CAST(round(w * v, 6) AS DECIMAL(18,6)))
         |    AS DOUBLE) AS decayed_value
         |FROM ww GROUP BY 1""".stripMargin,

    // offline change point: exact prefix sums over the daily series, one
    // rounded statistic per split, earliest-index argmax
    "change_point" ->
      s"""WITH $EV,
         |daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
         |    CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2),
         |pre AS (SELECT g, day,
         |    row_number() OVER (PARTITION BY g ORDER BY day) AS k,
         |    SUM(c) OVER (PARTITION BY g ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk,
         |    COUNT(*) OVER (PARTITION BY g) AS n,
         |    SUM(c) OVER (PARTITION BY g) AS s
         |  FROM daily),
         |cand AS (SELECT g, day, k, n,
         |    round(CAST(sk AS DOUBLE) / k, 6) AS left_mean,
         |    round(CAST(s - sk AS DOUBLE) / (n - k), 6) AS right_mean,
         |    round(abs(CAST(sk AS DOUBLE) / k -
         |      CAST(s - sk AS DOUBLE) / (n - k)), 9) AS stat
         |  FROM pre WHERE k < n)
         |SELECT g, CAST(n AS BIGINT) AS n_days,
         |  CAST(day AS VARCHAR) AS split_day, left_mean, right_mean,
         |  round(stat, 6) AS gap
         |FROM cand
         |QUALIFY row_number() OVER (PARTITION BY g
         |  ORDER BY stat DESC, k) = 1""".stripMargin,

    // Platt scaling: all 5 GD rounds replayed (quantized gradient sums →
    // identical (a, b) doubles), log-loss terms pinned round(·,9)→DECIMAL
    "platt_scale" ->
      s"""WITH ${plattSql(5)},
         |ll AS (SELECT CAST(round(-(y *
         |      ln(1.0 / (1.0 + exp(-(r.a * s + r.b)))) + (1.0 - y) *
         |      ln(1.0 - 1.0 / (1.0 + exp(-(r.a * s + r.b))))), 9)
         |    AS DECIMAL(18,9)) AS t
         |  FROM base, r5 r)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n,
         |  round(r.a, 6) AS a, round(r.b, 6) AS b,
         |  round(CAST((SELECT SUM(t) FROM ll) AS DOUBLE) /
         |    (SELECT COUNT(*) FROM base), 6) AS avg_logloss
         |FROM r5 r""".stripMargin,

    // weighted median: exact-decimal cumulative weights under the
    // (value, id) order, lower-median half-weight rule
    "weighted_median" ->
      """WITH b AS (SELECT l_returnflag AS g,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS w, l_orderkey AS id
        |  FROM lineitem),
        |c AS (SELECT g, v,
        |    SUM(w) OVER (PARTITION BY g ORDER BY v, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(w) OVER (PARTITION BY g) AS tw,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM b)
        |SELECT g, CAST(MIN(n) AS BIGINT) AS n,
        |  CAST(MIN(tw) AS DOUBLE) AS total_w,
        |  CAST(MIN(v) AS DOUBLE) AS wmedian
        |FROM c WHERE cw * 2 >= tw GROUP BY 1""".stripMargin,

    // bloom-prefiltered join ≡ the plain join (false positives die in the
    // real join) — the oracle is the join itself
    "bloom_join" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 490000
        |GROUP BY 1""".stripMargin,

    // UCB1 bandit readout: DECIMAL-exact reward sums, mean pinned round 6
    // first, one fixed-shape bonus expression
    "bandit_ucb" ->
      s"""WITH $EV,
         |a AS (SELECT event_type AS arm, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(value AS DECIMAL(18,2))) AS s FROM ev GROUP BY 1),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM a)
         |SELECT arm, n, round(CAST(s AS DOUBLE) / n, 6) AS mean_reward,
         |  round(round(CAST(s AS DOUBLE) / n, 6) +
         |    sqrt(2.0 * ln(CAST(nn AS DOUBLE)) / CAST(n AS DOUBLE)), 6)
         |    AS ucb
         |FROM a, t""".stripMargin,

    // incremental HLL: the merged batch sketches carry the SAME registers
    // as a full rescan (max over a row partition = global max), so one
    // register replay serves both columns — the maintenance identity
    "incremental_hll" ->
      s"""WITH h AS (SELECT source, ${mh63("text")} AS hv FROM documents),
         |b AS (SELECT source, hv & 1023 AS bucket, hv >> 10 AS w FROM h),
         |r AS (SELECT source, bucket,
         |    max(CASE WHEN w = 0 THEN 54 ELSE 54 - length(bin(w)) END) AS m_j
         |  FROM b GROUP BY 1, 2),
         |agg AS (SELECT source,
         |    SUM(CAST(CAST(1 AS BIGINT) << (54 - m_j) AS HUGEINT)) AS np,
         |    CAST(1024 - COUNT(*) AS BIGINT) AS v
         |  FROM r GROUP BY 1),
         |est AS (SELECT source, CAST(floor(
         |    CASE WHEN e_raw <= 2.5 * 1024 AND v > 0
         |         THEN 1024 * ln(1024.0 / v) ELSE e_raw END + 0.5)
         |    AS BIGINT) AS e
         |  FROM (SELECT source, v,
         |      0.7213 / (1.0 + 1.079 / 1024) * 1024 * 1024 * (2.0 ** 54) /
         |        CAST(np + CAST(v AS HUGEINT) * (CAST(1 AS HUGEINT) << 54)
         |          AS DOUBLE) AS e_raw
         |    FROM agg)),
         |ex AS (SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT)
         |    AS n_exact FROM documents GROUP BY 1)
         |SELECT est.source, e AS est_incremental, e AS est_full, n_exact
         |FROM est JOIN ex USING (source)""".stripMargin,

    // Zipf slope: top-300 vocab, log coordinates pinned round(·,9)→DECIMAL,
    // products re-pinned to scale 9, final OLS in doubles over exact sums
    "zipf_slope" ->
      s"""WITH tf AS (SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS f
         |  FROM (SELECT unnest($TOKS_LOWER) AS t FROM documents)
         |  GROUP BY 1),
         |top AS (SELECT token, f,
         |    row_number() OVER (ORDER BY f DESC, token) AS r
         |  FROM tf ORDER BY f DESC, token LIMIT 300),
         |terms AS (SELECT
         |    CAST(round(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
         |    CAST(round(ln(CAST(f AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
         |  FROM top),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(CAST(round(x * y, 9) AS DECIMAL(18,9))) AS sxy,
         |    SUM(CAST(round(x * x, 9) AS DECIMAL(18,9))) AS sxx
         |  FROM terms)
         |SELECT n AS n_terms,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
         |  round((CAST(sy AS DOUBLE) -
         |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
         |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
         |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         |    CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
         |FROM agg""".stripMargin,

    // content-defined chunking: every rolling-cut boundary replayed
    // (mh63(8-gram) % 64 = 0), chunk hashes from substr, exact BIGINT mass
    "cdc_dedup" ->
      s"""WITH d AS (SELECT doc_id, source AS g, text, length(text) AS len
         |  FROM documents WHERE length(text) > 0),
         |pos AS (SELECT doc_id, g, text, len,
         |    unnest(range(2, len - 8 + 2)) AS i FROM d),
         |bnd AS (SELECT doc_id, g, len, i FROM pos
         |  WHERE ${mh63("substr(text, i, 8)")} % 64 = 0),
         |st AS (SELECT doc_id, g, len, 1 AS s FROM d
         |  UNION ALL SELECT doc_id, g, len, i FROM bnd),
         |ck AS (SELECT doc_id, g, s,
         |    COALESCE(LEAD(s) OVER (PARTITION BY doc_id ORDER BY s),
         |      len + 1) - s AS clen
         |  FROM st),
         |ch AS (SELECT ck.g, clen,
         |    ${mh63("substr(d.text, ck.s, ck.clen)")} AS h
         |  FROM ck JOIN d USING (doc_id)),
         |cd AS (SELECT g, h, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(MIN(clen) AS BIGINT) AS cl
         |  FROM ch GROUP BY 1, 2)
         |SELECT g, CAST(SUM(n) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(SUM(n * cl) AS BIGINT) AS total_chars,
         |  CAST(SUM(cl) AS BIGINT) AS distinct_chars,
         |  round(1.0 - CAST(SUM(cl) AS DOUBLE) /
         |    CAST(SUM(n * cl) AS DOUBLE), 6) AS dedup_ratio
         |FROM cd GROUP BY 1""".stripMargin,

    // GDPR delete-propagation audit: the erased cohort's row counts in the
    // event log and the latest-features materialization (one row per entity)
    "forget_user" ->
      s"""WITH $EV
         |SELECT 'events' AS table_name,
         |  CAST(COUNT(*) AS BIGINT) AS rows_before,
         |  CAST(SUM(CASE WHEN user_id % 97 = 13 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS rows_deleted,
         |  CAST(COUNT(*) - SUM(CASE WHEN user_id % 97 = 13 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS rows_after
         |FROM ev
         |UNION ALL
         |SELECT 'features_latest',
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT),
         |  CAST(COUNT(DISTINCT CASE WHEN user_id % 97 = 13 THEN user_id END)
         |    AS BIGINT),
         |  CAST(COUNT(DISTINCT user_id) -
         |    COUNT(DISTINCT CASE WHEN user_id % 97 = 13 THEN user_id END)
         |    AS BIGINT)
         |FROM ev""".stripMargin,

    // per-doc OOV rate against the top-500 corpus vocab (freq DESC, token
    // ASC tie-break — the vocab_topk discipline)
    "oov_rate" ->
      s"""WITH tok AS (SELECT unnest($TOKS_LOWER) AS token FROM documents),
         |f AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY 1),
         |v AS (SELECT list(token) AS vl FROM (
         |  SELECT token FROM f ORDER BY freq DESC, token LIMIT 500) q),
         |d AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents)
         |SELECT d.doc_id,
         |  CAST(len(d.toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(d.toks, t -> NOT list_contains(v.vl, t)))
         |    AS BIGINT) AS n_oov,
         |  CASE WHEN len(d.toks) = 0 THEN 0.0
         |    ELSE round(CAST(len(list_filter(d.toks,
         |        t -> NOT list_contains(v.vl, t))) AS DOUBLE) /
         |      CAST(len(d.toks) AS DOUBLE), 6) END AS oov_rate
         |FROM d CROSS JOIN v""".stripMargin,

    // CM-sketch join-size estimate: both key histograms sketched with the
    // cms|row| md5 bucketing (≡ CountMin.buildWeighted), est = min over
    // rows of the counter inner product, beside the exact Σ fa·fb
    "join_size_est" -> {
      val bkt = mh63("'cms|' || CAST(r AS VARCHAR) || '|' || k") + " % 1024"
      s"""WITH fa AS (SELECT CAST(o_orderkey AS VARCHAR) AS k, COUNT(*) AS f
         |  FROM orders GROUP BY 1),
         |fb AS (SELECT CAST(l_orderkey AS VARCHAR) AS k, COUNT(*) AS f
         |  FROM lineitem GROUP BY 1),
         |ex AS (SELECT CAST(COALESCE(SUM(fa.f * fb.f), 0) AS BIGINT)
         |    AS exact_rows FROM fa JOIN fb USING (k)),
         |rs AS (SELECT unnest(generate_series(0, 3)) AS r),
         |sa AS (SELECT r, $bkt AS bucket, CAST(SUM(f) AS BIGINT) AS cnt
         |  FROM fa CROSS JOIN rs GROUP BY 1, 2),
         |sb AS (SELECT r, $bkt AS bucket, CAST(SUM(f) AS BIGINT) AS cnt
         |  FROM fb CROSS JOIN rs GROUP BY 1, 2),
         |est AS (SELECT CAST(MIN(e) AS BIGINT) AS cms_est FROM (
         |  SELECT sa.r, SUM(sa.cnt * sb.cnt) AS e
         |  FROM sa JOIN sb ON sa.r = sb.r AND sa.bucket = sb.bucket
         |  GROUP BY 1) t)
         |SELECT exact_rows, cms_est,
         |  round(CAST(cms_est - exact_rows AS DOUBLE) /
         |    CAST(exact_rows AS DOUBLE), 6) AS rel_err
         |FROM ex CROSS JOIN est""".stripMargin
    },

    // join-key skew diagnostic: exact integer arithmetic throughout; p99
    // frequency by nearest rank over the key table
    "skew_report" ->
      s"""WITH $EV,
         |freq AS (SELECT user_id, COUNT(*) AS f FROM ev GROUP BY 1),
         |base AS (SELECT CAST(SUM(f) AS BIGINT) AS n_rows,
         |    CAST(COUNT(*) AS BIGINT) AS n_keys,
         |    CAST(MAX(f) AS BIGINT) AS max_freq FROM freq),
         |rk AS (SELECT f, row_number() OVER (ORDER BY f, user_id) AS r
         |  FROM freq),
         |p99 AS (SELECT CAST(f AS BIGINT) AS p99_freq FROM rk, base
         |  WHERE r = CAST(ceil(n_keys * 0.99) AS BIGINT)),
         |hot AS (SELECT CAST(SUM(CASE WHEN f * n_keys > n_rows * 10
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys
         |  FROM freq CROSS JOIN base)
         |SELECT n_rows, n_keys, max_freq,
         |  round(CAST(max_freq AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
         |    AS top1_share,
         |  p99_freq, n_hot_keys,
         |  CAST((max_freq * n_keys + n_rows - 1) // n_rows AS BIGINT)
         |    AS salt_factor
         |FROM base CROSS JOIN p99 CROSS JOIN hot""".stripMargin,

    // per-doc distinct-trigram novelty (63-bit md5 gram keys, df = 1 ⇒
    // novel), gram-less docs pinned to 0.0
    "gram_novelty" ->
      raw"""WITH d AS (SELECT doc_id, $TOKS_LOWER AS toks FROM documents),
           |g AS (SELECT DISTINCT doc_id,
           |    ${mh63("ng")} AS h FROM (
           |  SELECT doc_id, unnest(list_transform(
           |    generate_series(1, len(toks) - 2),
           |    i -> array_to_string(toks[i:i + 2], ' '))) AS ng FROM d) t),
           |df AS (SELECT h, COUNT(*) AS c FROM g GROUP BY 1),
           |per AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           |    CAST(SUM(CASE WHEN df.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_novel
           |  FROM g JOIN df USING (h) GROUP BY 1)
           |SELECT d.doc_id,
           |  COALESCE(per.n_grams, 0) AS n_grams,
           |  COALESCE(per.n_novel, 0) AS n_novel,
           |  CASE WHEN COALESCE(per.n_grams, 0) = 0 THEN 0.0
           |    ELSE round(CAST(per.n_novel AS DOUBLE) /
           |      CAST(per.n_grams AS DOUBLE), 6) END AS novelty
           |FROM d LEFT JOIN per USING (doc_id)""".stripMargin,

    // equal-width 20-bin histogram; bin arithmetic in doubles identical to
    // Spark's (same min/max, same width division), top edge clamped to 19
    "value_histogram" ->
      """WITH mm AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |  FROM orders),
        |b AS (SELECT CAST(least(floor((o_totalprice - lo) /
        |    ((hi - lo) / 20.0)), 19.0) AS BIGINT) AS bin, lo, hi
        |  FROM orders CROSS JOIN mm)
        |SELECT bin,
        |  round(lo + bin * ((hi - lo) / 20.0), 6) AS bin_lo,
        |  round(lo + (bin + 1) * ((hi - lo) / 20.0), 6) AS bin_hi,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM b GROUP BY 1, 2, 3""".stripMargin,

    // hard-negative mining = ann_topk with a cosine band gate before the
    // per-query rank (same arithmetic shape, so the unrounded band
    // decisions agree)
    "hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e
        |  WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.qv, e.v) /
        |      (sqrt(list_dot_product(q.qv, q.qv)) *
        |       sqrt(list_dot_product(e.v, e.v))) AS sim
        |  FROM e CROSS JOIN q
        |  WHERE q.query_id != e.vec_id),
        |banded AS (SELECT * FROM scored WHERE sim >= 0.2 AND sim < 0.9),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id ASC) AS rnk
        |  FROM banded)
        |SELECT query_id, neighbor_id, round(sim, 6) AS cosine,
        |  CAST(rnk AS BIGINT) AS rank
        |FROM ranked WHERE rnk <= 5""".stripMargin,

    // per-source-pair Jensen-Shannon divergence over the top-200 vocab +
    // one pooled '' OOV bucket, Laplace +1 smoothing; every term pinned
    // round(·,9) → DECIMAL before the exact sum (the ln bridge)
    "vocab_js_div" ->
      s"""WITH tok AS (SELECT source AS src, unnest($TOKS_LOWER) AS t
         |  FROM documents),
         |f AS (SELECT t AS token, COUNT(*) AS freq FROM tok GROUP BY 1),
         |v AS (SELECT token FROM f ORDER BY freq DESC, token LIMIT 200),
         |tagged AS (SELECT src,
         |    CASE WHEN t IN (SELECT token FROM v) THEN t ELSE '' END AS tok
         |  FROM tok),
         |counts AS (SELECT src, tok, COUNT(*) AS c FROM tagged GROUP BY 1, 2),
         |totals AS (SELECT src, SUM(c) AS n FROM counts GROUP BY 1),
         |buckets AS (SELECT token AS tok FROM v UNION ALL SELECT ''),
         |grid AS (SELECT t.src, b.tok, t.n, COALESCE(c.c, 0) AS c
         |  FROM totals t CROSS JOIN buckets b
         |  LEFT JOIN counts c ON c.src = t.src AND c.tok = b.tok),
         |pairs AS (SELECT a.src AS src_a, b.src AS src_b,
         |    (CAST(a.c AS DOUBLE) + 1.0) / (CAST(a.n AS DOUBLE) + 201.0) AS pa,
         |    (CAST(b.c AS DOUBLE) + 1.0) / (CAST(b.n AS DOUBLE) + 201.0) AS pb
         |  FROM grid a JOIN grid b ON a.tok = b.tok AND a.src < b.src),
         |terms AS (SELECT src_a, src_b,
         |    CAST(round(0.5 * (pa * ln(pa / ((pa + pb) / 2.0))) +
         |      0.5 * (pb * ln(pb / ((pa + pb) / 2.0))), 9)
         |      AS DECIMAL(18,9)) AS term
         |  FROM pairs)
         |SELECT src_a, src_b, CAST(round(SUM(term), 6) AS DOUBLE) AS js
         |FROM terms GROUP BY 1, 2""".stripMargin,

    // one-row corpus data card
    "corpus_card" ->
      s"""WITH d AS (SELECT source, lang,
         |    CAST(len($TOKS_RAW) AS BIGINT) AS n_toks,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    md5(text) AS digest
         |  FROM documents)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  round(CAST(COUNT(*) - COUNT(DISTINCT digest) AS DOUBLE) /
         |    COUNT(*), 6) AS dup_rate,
         |  round(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*), 6) AS en_share
         |FROM d""".stripMargin,

    // segment-mean imputation audit over planted nulls; fill and
    // post-fill total in double space, one fixed expression shape
    "impute_missing" ->
      """WITH c AS (SELECT c_mktsegment AS segment,
        |    CAST(CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE c_acctbal END
        |      AS DECIMAL(18,2)) AS bal
        |  FROM customer),
        |g AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_missing,
        |    SUM(bal) AS s, COUNT(bal) AS cnt
        |  FROM c GROUP BY 1)
        |SELECT segment, n, n_missing,
        |  round(CAST(s AS DOUBLE) / cnt, 2) AS fill_value,
        |  round(CAST(s AS DOUBLE) +
        |    CAST(n_missing AS DOUBLE) * round(CAST(s AS DOUBLE) / cnt, 2), 2)
        |    AS total_after
        |FROM g""".stripMargin,

    // one-hot encoding of the market segment, fixed sorted column set
    "one_hot" ->
      """SELECT c_custkey,
        |  CAST(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS BIGINT) AS seg_automobile,
        |  CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS BIGINT) AS seg_building,
        |  CAST(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS BIGINT) AS seg_furniture,
        |  CAST(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS BIGINT) AS seg_household,
        |  CAST(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS BIGINT) AS seg_machinery
        |FROM customer""".stripMargin,

    // Benford first-digit audit; chi-square contributions in fixed-shape
    // doubles (log10/pow identical IEEE both engines)
    "benford_audit" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |c AS (SELECT digit, COUNT(*) AS n_obs FROM d
        |  WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
        |t AS (SELECT SUM(n_obs) AS n FROM c)
        |SELECT CAST(digit AS BIGINT) AS digit, CAST(n_obs AS BIGINT) AS n_obs,
        |  round(CAST(n AS DOUBLE) * log10(1.0 + 1.0 / digit), 6)
        |    AS n_expected,
        |  round(pow(CAST(n_obs AS DOUBLE) -
        |      CAST(n AS DOUBLE) * log10(1.0 + 1.0 / digit), 2) /
        |    (CAST(n AS DOUBLE) * log10(1.0 + 1.0 / digit)), 6) AS chi2_term
        |FROM c CROSS JOIN t""".stripMargin,

    // daily gap fill over the corpus date span for the sampled users
    "gap_fill" ->
      s"""WITH $EV,
         |span AS (SELECT MIN(CAST(ts AS DATE)) AS lo,
         |    MAX(CAST(ts AS DATE)) AS hi FROM ev),
         |u AS (SELECT DISTINCT user_id FROM ev WHERE user_id % 37 = 0),
         |daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ev WHERE user_id % 37 = 0 GROUP BY 1, 2),
         |spine AS (SELECT u.user_id,
         |    CAST(unnest(generate_series(span.lo, span.hi,
         |      INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM u CROSS JOIN span)
         |SELECT s.user_id, CAST(s.day AS VARCHAR) AS day,
         |  COALESCE(d.n, 0) AS n
         |FROM spine s LEFT JOIN daily d
         |  ON d.user_id = s.user_id AND d.day = s.day""".stripMargin,

    // flagship composition: SQL transform → as-of training set → hash
    // split → per-split rollup, replayed as one CTE chain
    "e2e_training_set" ->
      s"""WITH $EV,
         |c AS (SELECT user_id, ts, value * 2 AS fval FROM ev
         |  WHERE event_type = 'click'),
         |lbl AS (SELECT user_id, ts, value AS label FROM ev
         |  WHERE event_type = 'purchase'),
         |lkey AS (SELECT DISTINCT user_id, ts FROM lbl),
         |pc AS (
         |  SELECT l.user_id, l.ts, f.fval FROM lkey l
         |  LEFT JOIN c f ON l.user_id = f.user_id AND f.ts <= l.ts
         |  QUALIFY row_number() OVER (PARTITION BY l.user_id, l.ts
         |    ORDER BY f.ts DESC, f.fval DESC) = 1),
         |tset AS (SELECT l.user_id, epoch_ms(l.ts) AS ts_ms,
         |    pc.fval AS f_click, l.label
         |  FROM lbl l
         |  LEFT JOIN pc ON l.user_id = pc.user_id AND l.ts = pc.ts),
         |sp AS (SELECT *,
         |    CASE WHEN substr(md5(concat_ws('|', CAST(user_id AS VARCHAR),
         |      CAST(ts_ms AS VARCHAR), '42')), 1, 8) < '40000000'
         |      THEN 1 ELSE 0 END AS is_test
         |  FROM tset)
         |SELECT CAST(is_test AS BIGINT) AS is_test,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  round(CAST(SUM(CAST(label AS DECIMAL(18,2))) AS DOUBLE) /
         |    COUNT(*), 6) AS mean_label,
         |  CAST(COUNT(f_click) AS BIGINT) AS n_feat,
         |  CASE WHEN COUNT(f_click) = 0 THEN NULL
         |    ELSE round(CAST(SUM(CAST(f_click AS DECIMAL(18,2))) AS DOUBLE) /
         |      COUNT(f_click), 6) END AS mean_f_click
         |FROM sp GROUP BY 1""".stripMargin,

    // conversion lag: last click in the 7 days before each purchase,
    // nearest-rank median/p90 of the floored minute lag per cohort
    "conversion_lag" ->
      s"""WITH $EV,
         |c AS (SELECT user_id, ts AS c_ts FROM ev WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM ev
         |  WHERE event_type = 'purchase'),
         |lc AS (SELECT p.p_id, MAX(c.c_ts) AS lst
         |  FROM p JOIN c ON c.user_id = p.user_id
         |    AND c.c_ts >= p.p_ts - INTERVAL 7 DAY AND c.c_ts < p.p_ts
         |  GROUP BY 1),
         |lagged AS (SELECT p.user_id % 4 AS cohort, p.p_id,
         |    CAST(floor((epoch_ms(p.p_ts) - epoch_ms(lc.lst)) / 60000.0)
         |      AS BIGINT) AS lag_min
         |  FROM p LEFT JOIN lc USING (p_id)),
         |conv AS (SELECT cohort, p_id, lag_min,
         |    row_number() OVER (PARTITION BY cohort
         |      ORDER BY lag_min, p_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY cohort) AS n
         |  FROM lagged WHERE lag_min IS NOT NULL),
         |med AS (SELECT cohort, lag_min AS median_lag_min FROM conv
         |  WHERE rk = CAST(ceil(n * 0.5) AS BIGINT)),
         |p90 AS (SELECT cohort, lag_min AS p90_lag_min FROM conv
         |  WHERE rk = CAST(ceil(n * 0.9) AS BIGINT)),
         |agg AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_purchases,
         |    CAST(COUNT(lag_min) AS BIGINT) AS n_converted
         |  FROM lagged GROUP BY 1)
         |SELECT agg.cohort, agg.n_purchases, agg.n_converted,
         |  med.median_lag_min, p90.p90_lag_min
         |FROM agg LEFT JOIN med USING (cohort) LEFT JOIN p90 USING (cohort)"""
        .stripMargin,

    // streaming gap alerts ≡ the batch LEAD formulation (>12 h pauses);
    // comparisons and the floored second gap in exact micros
    "streaming_gaps" ->
      s"""WITH $EV,
         |g AS (SELECT user_id, ts,
         |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS nxt
         |  FROM ev)
         |SELECT user_id, epoch_ms(ts) AS prev_ms, epoch_ms(nxt) AS next_ms,
         |  CAST((epoch_us(nxt) - epoch_us(ts)) // 1000000 AS BIGINT)
         |    AS gap_s
         |FROM g
         |WHERE nxt IS NOT NULL
         |  AND epoch_us(nxt) - epoch_us(ts) > 43200000000""".stripMargin,

    // two-arm Welch uplift from DECIMAL-exact Σy/Σy², fixed-shape doubles
    "ab_uplift" -> {
      val arm = s"CAST(${mh63("CAST(o_custkey AS VARCHAR) || '|' || 'exp1'")} % 2 AS INTEGER)"
      s"""WITH g AS (SELECT $arm AS arm, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
         |      CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS q
         |  FROM orders GROUP BY 1),
         |a0 AS (SELECT n AS n_0, s AS s0, q AS q0 FROM g WHERE arm = 0),
         |a1 AS (SELECT n AS n_1, s AS s1, q AS q1 FROM g WHERE arm = 1)
         |SELECT n_0, n_1,
         |  round(s0 / n_0, 6) AS mean_0,
         |  round(s1 / n_1, 6) AS mean_1,
         |  round(s1 / n_1 - s0 / n_0, 6) AS uplift,
         |  round((s1 / n_1 - s0 / n_0) /
         |    sqrt((q1 - s1 * s1 / n_1) / (n_1 - 1) / n_1 +
         |         (q0 - s0 * s0 / n_0) / (n_0 - 1) / n_0), 6) AS t_stat
         |FROM a0 CROSS JOIN a1""".stripMargin
    },

    // reliability diagram: equal-width score bins vs empirical positive
    // rate; per-row scores pinned round(·,9) → DECIMAL before the sum
    "reliability_bins" ->
      s"""WITH $EV,
         |b AS (SELECT CAST(least(floor(value / 60.0), 9.0) AS BIGINT) AS bin,
         |    CAST(round(value / 600.0, 9) AS DECIMAL(18,9)) AS score,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
         |  FROM ev)
         |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         |  round(CAST(SUM(score) AS DOUBLE) / COUNT(*), 6) AS mean_score,
         |  round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos
         |FROM b GROUP BY 1""".stripMargin,

    // temporal split with per-entity embargo before the first test row
    "time_split_embargo" ->
      s"""WITH $EV,
         |w AS (SELECT event_id, user_id, ts,
         |    MIN(CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN ts END)
         |      OVER (PARTITION BY user_id) AS ft
         |  FROM ev)
         |SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         |  CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test'
         |    WHEN ft IS NOT NULL AND ts >= ft - INTERVAL 2 DAY THEN 'embargo'
         |    ELSE 'train' END AS split
         |FROM w""".stripMargin,
  )

  // the prefix-sum skew path must give the bucket join's exact answer —
  // one oracle SQL, two physical strategies under the same gate; the
  // streaming funnel likewise answers to the batch funnel's oracle
  val all: Map[String, String] =
    base + ("pit_window_agg_prefix" -> base("pit_window_agg")) +
      ("streaming_funnel" -> base("event_funnel")) +
      ("streaming_dedup_wm" -> base("streaming_dedup")) +
      ("streaming_cusum" -> base("cusum_drift")) +
      // the ingest-time Bloom screen + batch exact-confirm tail must equal
      // the batch contaminatedBloom bit-for-bit
      ("stream_decontam" -> base("bloom_decontam"))
}
