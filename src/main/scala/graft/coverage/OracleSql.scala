package graft.coverage

/**
 * DuckDB oracle SQL for every query in [[OperatorQueries]] (and the
 * SQL-expressible subset of [[graft.operators]] / [[graft.functions]]).
 *
 * Conventions keeping the hash-compare deterministic across engines:
 *  - identical output column ALIASES as the Spark side (driver sorts columns
 *    by name before hashing);
 *  - integer SUMs wrapped in CAST(… AS BIGINT) — DuckDB's SUM(int) is
 *    HUGEINT, which pandas widens to float;
 *  - double sums via DECIMAL(18,2) (exact) then CAST back to DOUBLE;
 *  - ORDER BY mirrors Spark's null ordering (ASC = NULLS FIRST).
 */
object OracleSql {

  /** Language-marker lists as DuckDB array literals, sourced from the same
    * map the Spark expression uses — no drift between engine and oracle. */
  private val markers: Map[String, String] =
    graft.text.TextAnalysis.languageMarkers.map { case (lang, ms) =>
      lang -> ms.map(m => s"'$m'").mkString("[", ", ", "]")
    }

  /** Stopword list as a DuckDB array literal, sourced from the same Seq the
    * Spark expressions use — no drift between engine and oracle. */
  private val stopwordsList: String =
    graft.text.TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** SQL single-quoted string literal (embedded quotes doubled). */
  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Tracking-param list as a DuckDB array literal, sourced from the same
    * Seq the Spark canonicalizer uses — no drift between engine and oracle
    * (quoted via [[sq]] so a future param containing a quote cannot break
    * the generated SQL). */
  private val trackingList: String =
    graft.text.UrlNormalize.trackingParams.map(sq).mkString("[", ", ", "]")

  /** The dirty-URL fixture construction (LlmOpQueries.dirtyUrls) as a CTE
    * body: (doc_id, url) — the SAME case/port/param/fragment arithmetic. */
  private val urlFixtureSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 19 = 7 THEN concat('not a url ', CAST(doc_id AS VARCHAR))
      |       WHEN doc_id % 19 = 8 THEN concat('http://host',
      |                                 CAST(doc_id % 7 AS VARCHAR), ':8x80/p')
      |       WHEN doc_id % 19 = 9 THEN 'http://[::1]:8080/x'
      |  ELSE concat(
      |         CASE WHEN doc_id % 2 = 0 THEN 'HtTpS' ELSE 'hTtP' END, '://',
      |         CASE WHEN doc_id % 8 = 1 THEN 'User:Pw@' ELSE '' END,
      |         CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
      |         'Site', CAST(doc_id % 7 AS VARCHAR), '.ExAmPle.COM',
      |         CASE WHEN doc_id % 11 = 5 THEN '.' ELSE '' END,
      |         CASE WHEN doc_id % 16 = 1 THEN ':80'
      |              WHEN doc_id % 16 = 2 THEN ':8080'
      |              WHEN doc_id % 2 = 0 THEN ':443'
      |              WHEN doc_id % 5 = 3 THEN ':8080' ELSE '' END,
      |         '/Articles/Item', CAST(doc_id % 5 AS VARCHAR),
      |         CASE WHEN doc_id % 2 = 0 THEN '/p%2fq' ELSE '/p%2Fq' END,
      |         CASE WHEN doc_id % 13 = 3 THEN '/e%zq' ELSE '' END,
      |         CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
      |         CASE WHEN doc_id % 9 = 4 THEN '?utm_source=feed&fbclid=x'
      |              ELSE concat('?id=', CAST(doc_id % 5 AS VARCHAR),
      |                '&utm_source=feed&z=9&b=2',
      |                CASE WHEN doc_id % 3 = 0 THEN '&fbclid=x' ELSE '' END) END,
      |         CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END) END AS url
      |FROM documents""".stripMargin

  /** UrlNormalize.canonicalizeUrl as a WITH-chain over a `urls(doc_id, url)`
    * CTE: emits `canon(doc_id, url, canonical_url)`. Every step mirrors the
    * Spark column chain (fragment strip, scheme/host fold, www strip,
    * default-port drop, trailing-slash strip, tracking filter + sort). */
  private val urlCanonicalChainSql: String =
    s"""c0 AS (SELECT doc_id, url,
       |         -- 'g': Spark's regexp_replace is global; DuckDB's default
       |         -- replaces only the FIRST match, which would keep trailing
       |         -- whitespace whenever leading whitespace also matched
       |         regexp_replace(url, '^[ \\t\\r\\n]+|[ \\t\\r\\n]+\\z', '', 'g') AS u0
       |       FROM urls),
       |c0f AS (SELECT doc_id, url, u0,
       |          regexp_replace(u0, '#[\\s\\S]*', '') AS nf FROM c0),
       |c1 AS (SELECT doc_id, url, u0,
       |         lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |         regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
       |       FROM c0f),
       |c2 AS (SELECT *, regexp_extract(rest, '^([^/?]*)', 1) AS authority FROM c1),
       |c2h AS (SELECT *,
       |          regexp_replace(authority, '^[\\s\\S]*@', '') AS hostport FROM c2),
       |c3 AS (SELECT *,
       |         substr(rest, length(authority) + 1) AS pathq,
       |         -- case fold, FQDN root-dot strip, then www. strip
       |         regexp_replace(regexp_replace(
       |           lower(regexp_extract(hostport, '^([^:]*)', 1)),
       |           '\\.\\z', ''), '^www\\.', '') AS host,
       |         regexp_extract(hostport, ':([0-9]+)\\z', 1) AS port,
       |         -- authority sanity gate: non-numeric ports / bracketed
       |         -- IPv6 pass through verbatim (mirrors UrlNormalize)
       |         regexp_matches(hostport, '^[^:\\[\\]]*(:[0-9]+)?\\z') AS hp_ok
       |       FROM c2h),
       |c3p AS (SELECT *,
       |          -- percent-case fold (UrlNormalize.pctUpper): DuckDB's
       |          -- lambda index is 1-based where Spark's transform is
       |          -- 0-based, hence i = 1 for the pre-first-% piece
       |          array_to_string(list_transform(string_split(pathq, '%'),
       |            (p, i) -> CASE WHEN i = 1
       |                        OR NOT regexp_matches(p, '^[0-9a-fA-F]{2}')
       |                      THEN p
       |                      ELSE concat(upper(substr(p, 1, 2)), substr(p, 3))
       |                      END), '%') AS pathq_n
       |        FROM c3),
       |c4 AS (SELECT *,
       |         regexp_replace(regexp_extract(pathq_n, '^([^?]*)', 1), '/+\\z', '') AS path,
       |         array_to_string(list_sort(list_filter(
       |           string_split(regexp_extract(pathq_n, '\\?([\\s\\S]*)', 1), '&'),
       |           p -> p <> '' AND NOT list_contains($trackingList,
       |                  lower(regexp_extract(p, '^([^=]*)', 1))))), '&') AS q,
       |         (port <> '' AND NOT ((scheme = 'http' AND port = '80')
       |            OR (scheme = 'https' AND port = '443'))) AS keep_port
       |       FROM c3p),
       |canon AS (SELECT doc_id, url,
       |            CASE WHEN scheme = '' OR NOT hp_ok THEN u0 ELSE
       |              concat(scheme, '://', host,
       |                CASE WHEN keep_port THEN concat(':', port) ELSE '' END,
       |                path,
       |                CASE WHEN q <> '' THEN concat('?', q) ELSE '' END)
       |            END AS canonical_url
       |          FROM c4)""".stripMargin

  /** ZOrder.scaleTo16Bit as DuckDB SQL: clamp + floor onto the 16-bit grid
    * with the identical double-arithmetic sequence. */
  private def scale16Sql(c: String, min: Double, max: Double): String =
    s"least(65535, greatest(0, CAST(floor((CAST($c AS DOUBLE) - $min) / " +
      s"${max - min} * 65536.0) AS INTEGER)))"

  /** ZOrder.interleave16 as DuckDB SQL — generated from the same bit
    * positions the Spark expression folds over (BIGINT: bit 31 is live). */
  private def mortonSql(a: String, b: String): String = {
    val (al, bl) = (s"CAST($a AS BIGINT)", s"CAST($b AS BIGINT)")
    (0 until 16).map { i =>
      s"((($al >> $i) & 1) << ${2 * i + 1}) | ((($bl >> $i) & 1) << ${2 * i})"
    }.mkString(" | ")
  }

  /** The TextNormalize chain as DuckDB SQL — `nfc_normalize` + the same
    * zero-width/control/fold chains, generated from the operator's Seqs. */
  private def textNormalizeSql(in: String): String = {
    val nfc = s"nfc_normalize($in)"
    val noZw = graft.text.TextNormalize.zeroWidth
      .foldLeft(nfc)((a, z) => s"replace($a, ${sq(z)}, '')")
    val noCtl = s"regexp_replace($noZw, ${sq(graft.text.TextNormalize.controlPattern)}, '', 'g')"
    graft.text.TextNormalize.asciiFolds.foldLeft(noCtl) {
      case (a, (from, to)) => s"replace($a, ${sq(from)}, ${sq(to)})"
    }
  }

  /** The HtmlExtract regex/replace chain rendered as DuckDB SQL over a
    * column expression — built from the SAME pattern Seqs the Spark operator
    * folds over, so pattern set and order cannot drift. */
  private def htmlStripSql(in: String): String = {
    val blocks = graft.text.HtmlExtract.blockPatterns
      .foldLeft(in)((a, p) => s"regexp_replace($a, ${sq(p)}, ' ', 'g')")
    val tags = s"regexp_replace($blocks, '<[^>]+>', ' ', 'g')"
    val decoded = graft.text.HtmlExtract.entityDecodes.foldLeft(tags) {
      case (a, (e, r)) => s"replace($a, ${sq(e)}, ${sq(r)})"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** 3-token shingle set of a token-list column (mirror of
    * `Dedup.shinglesOfTokens`: positions 1..max(len-2,1), short docs fold
    * into one truncated shingle, distinct). */
  private def shingleSql(toks: String): String =
    s"list_distinct([array_to_string($toks[i:i+2], ' ') " +
      s"FOR i IN range(1, greatest(len($toks)-2, 1) + 1)])"

  /** Hash-threshold literals from the same function the Spark operator uses
    * ([[graft.operators.Sampling.hexThreshold]]) — no drift possible. */
  private def thr(fraction: Double): String =
    s"'${graft.operators.Sampling.hexThreshold(fraction)}'"

  /** Full Okapi-BM25 replay for `t_bm25_topk`, generated from the SAME term
    * list the Spark query scores ([[LlmOpQueries.Bm25QueryTerms]]) with the
    * same k1/b and the same operand grouping as [[graft.text.Bm25]]
    * (idf · (tf·(k1+1)) / (tf + k1·((1−b) + (b·dl)/avgdl))); round(.,6)
    * absorbs last-ulp ln/arith differences, LmScore's convention. */
  private def bm25TopKSql: String = {
    val terms = graft.coverage.LlmOpQueries.Bm25QueryTerms.map(_.toLowerCase)
    val (k1, b) = (1.2, 0.75)
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = ${sq(t)})) AS tf$i"
    }.mkString(",\n       |         ")
    val dfCols = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(", ")
    val perTerm = terms.indices.map { i =>
      s"""(CASE WHEN tf$i > 0
         |THEN ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5))
         |     * (CAST(tf$i AS DOUBLE) * ($k1 + 1.0))
         |     / (CAST(tf$i AS DOUBLE) + $k1 * (1.0 - $b + $b * dl / avgdl))
         |ELSE 0.0 END)""".stripMargin.replace("\n", " ")
    }.mkString(" + ")
    val matched = terms.indices
      .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH tk AS (
       |  SELECT doc_id,
       |         string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |         CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
       |              ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
       |              END AS DOUBLE) AS dl
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, dl,
       |         $tfCols
       |  FROM tk),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
       |              $dfCols
       |       FROM tf)
       |SELECT doc_id, CAST($matched AS BIGINT) AS n_terms_matched,
       |       round($perTerm, 6) AS bm25
       |FROM tf, st
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** Generic SCD2-merge replay for `j_scd2_merge`: per batch, a FULL JOIN
    * of the open slice with the batch, a null-safe any-attribute diff, and
    * the four-way split (history pass-through / kept-open / closed-at-eff /
    * opened-at-eff) — the same rule [[graft.operators.ScdMerge.scd2Apply]]
    * implements, applied twice. */
  private def scd2MergeSql: String = {
    val attrs = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val aList = attrs.mkString(", ")
    def applyBatch(state: String, batch: String, eff: String, out: String): String = {
      val oA = attrs.map(a => s"o.$a AS o_$a").mkString(", ")
      val uA = attrs.map(a => s"u.$a AS u_$a").mkString(", ")
      val diff = attrs.map(a => s"(o.$a IS DISTINCT FROM u.$a)").mkString(" OR ")
      val oCols = attrs.map(a => s"o_$a").mkString(", ")
      val uCols = attrs.map(a => s"u_$a").mkString(", ")
      s"""${out}_j AS (
         |  SELECT o.c_custkey AS ok, u.c_custkey AS uk, $oA, $uA,
         |         o.valid_from AS o_vf, ($diff) AS diff
         |  FROM (SELECT * FROM $state WHERE is_current) o
         |  FULL JOIN $batch u ON o.c_custkey = u.c_custkey),
         |$out AS (
         |  SELECT c_custkey, $aList, valid_from, valid_to, is_current
         |  FROM $state WHERE NOT is_current
         |  UNION ALL
         |  SELECT ok, $oCols, o_vf, CAST(NULL AS TIMESTAMP), true
         |  FROM ${out}_j WHERE ok IS NOT NULL AND (uk IS NULL OR NOT diff)
         |  UNION ALL
         |  SELECT ok, $oCols, o_vf, TIMESTAMP '$eff', false
         |  FROM ${out}_j WHERE ok IS NOT NULL AND uk IS NOT NULL AND diff
         |  UNION ALL
         |  SELECT uk, $uCols, TIMESTAMP '$eff', CAST(NULL AS TIMESTAMP), true
         |  FROM ${out}_j WHERE uk IS NOT NULL AND (ok IS NULL OR diff))"""
    }
    s"""WITH snap0 AS (
       |  SELECT c_custkey, $aList,
       |         TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
       |         CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
       |  FROM customer),
       |b1 AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
       |         CASE WHEN c_custkey % 7 = 0 THEN 'MOVED_' || c_mktsegment
       |              ELSE c_mktsegment END AS c_mktsegment
       |  FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 1
       |  UNION ALL
       |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
       |  FROM customer WHERE c_custkey % 13 = 0),
       |${applyBatch("snap0", "b1", "2024-02-01 00:00:00", "s1")},
       |b2 AS (
       |  SELECT c_custkey, c_name, c_nationkey,
       |         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
       |              ELSE c_acctbal END AS c_acctbal,
       |         CASE WHEN c_custkey % 14 = 0 THEN 'SEG_B2'
       |              ELSE c_mktsegment END AS c_mktsegment
       |  FROM customer WHERE c_custkey % 5 = 0 OR c_custkey % 14 = 0),
       |${applyBatch("s1", "b2", "2024-03-01 00:00:00", "s2")}
       |SELECT c_custkey, $aList,
       |       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       |       coalesce(strftime(valid_to, '%Y-%m-%d %H:%M:%S'), 'open') AS valid_to,
       |       is_current
       |FROM s2 ORDER BY c_custkey, valid_from""".stripMargin
  }

  /** Multinomial-Naive-Bayes replay for `t_nb_classify`, generated from the
    * SAME class list the Spark operator uses
    * ([[LlmOpQueries.NbClasses]]) with the same factored score
    * (Σ ln(count+1) − n·ln(total_c + V) + ln((docs_c+1)/(n_train+K))),
    * round-6 scores, and the same first-class-wins tie-break on the
    * ROUNDED values. */
  private def nbClassifySql: String = {
    val classes = graft.coverage.LlmOpQueries.NbClasses
    val k = classes.size
    val idx = classes.indices
    val cCols = classes.zipWithIndex.map { case (c, i) =>
      s"sum(CASE WHEN lang = ${sq(c)} THEN 1 ELSE 0 END) AS c$i" }.mkString(", ")
    val totCols = idx.map(i => s"CAST(sum(c$i) AS DOUBLE) AS tot$i").mkString(", ")
    val nCols = classes.zipWithIndex.map { case (c, i) =>
      s"CAST(sum(CASE WHEN lang = ${sq(c)} THEN 1 ELSE 0 END) AS DOUBLE) AS n$i"
    }.mkString(", ")
    val sCols = idx.map(i =>
      s"sum(ln(coalesce(c.c$i, 0) + 1.0)) AS s$i").mkString(", ")
    val scoreCols = classes.zipWithIndex.map { case (c, i) =>
      s"round(s$i - CAST(n_tokens AS DOUBLE) * ln(tot$i + v) " +
        s"+ ln((n$i + 1.0) / (n + $k.0)), 6) AS score_$c"
    }.mkString(",\n       |       ")
    val best = s"greatest(${classes.map(c => s"score_$c").mkString(", ")})"
    val predicted = classes.map(c =>
      s"WHEN score_$c = $best THEN ${sq(c)}").mkString(" ")
    s"""WITH tk AS (
       |  SELECT doc_id, lang,
       |         string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
       |              < ${thr(0.8)} THEN 'train' ELSE 'other' END AS split
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM tk),
       |trtok AS (SELECT lang, unnest(toks) AS t FROM tk WHERE split = 'train'),
       |counts AS (SELECT t, $cCols FROM trtok GROUP BY t),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS v, $totCols FROM counts),
       |sd AS (SELECT CAST(count(*) AS DOUBLE) AS n, $nCols
       |       FROM tk WHERE split = 'train'),
       |per AS (SELECT o.doc_id, count(o.t) AS n_tokens, $sCols
       |        FROM tok o LEFT JOIN counts c USING (t) GROUP BY o.doc_id),
       |scored AS (
       |  SELECT doc_id, n_tokens,
       |       $scoreCols
       |  FROM per, st, sd)
       |SELECT doc_id, n_tokens, ${classes.map(c => s"score_$c").mkString(", ")},
       |       CASE $predicted END AS predicted
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** The split/tokenize/shingle/overlap CTE chain of the decontamination
    * replay, parameterized by the corpus relation (r12 review: the 10×
    * entry used to restate this chain verbatim — two hand-maintained
    * copies of the same shingle arithmetic could drift independently, the
    * exact class the file header warns about). Emits `tr(doc_id, shingle)`
    * and `ev(shingle)`. */
  private def decontaminationChainSql(corpusSql: String): String =
    s"""sp AS (SELECT doc_id, text,
       |       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < ${thr(0.8)} THEN 'train'
       |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < ${thr(0.9)} THEN 'valid'
       |            ELSE 'test' END AS split
       |       FROM $corpusSql),
       |tk AS (SELECT doc_id, split,
       |              string_split_regex(trim(lower(text)), '\\s+') AS toks FROM sp),
       |sh AS (SELECT doc_id, split, ${shingleSql("toks")} AS shs FROM tk),
       |ev AS (SELECT DISTINCT unnest(shs) AS shingle FROM sh WHERE split = 'test'),
       |tr AS (SELECT doc_id, unnest(shs) AS shingle FROM sh WHERE split = 'train')""".stripMargin

  /** Exact shingle-overlap contamination report — shared by
    * `t_decontaminate` (exact broadcast operator) and
    * `t_decontaminate_bloom` (Bloom-pre-filtered variant with identical
    * output contract). */
  private def decontaminationSql: String =
    s"""WITH ${decontaminationChainSql("documents")}
       |SELECT tr.doc_id, count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_overlap,
       |       CAST(sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |         / count(*) AS contamination
       |FROM tr LEFT JOIN ev ON tr.shingle = ev.shingle
       |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin

  /** The 10× replicated documents corpus, exactly as the Spark side builds
    * it (`LlmOpQueries.docs10x`): ids offset per replica, every
    * non-whitespace run suffixed `_r<k>` so replica vocabularies are
    * disjoint. Spark's `regexp_replace` is replace-all; DuckDB needs the
    * explicit 'g' flag. */
  private def docs10xSql: String =
    """SELECT d.doc_id + k.k * 10000000 AS doc_id,
      |       regexp_replace(d.text, '(\S+)', '\1_r' || CAST(k.k AS VARCHAR), 'g') AS text,
      |       d.lang AS lang
      |FROM documents d CROSS JOIN (SELECT unnest(range(10)) AS k) k""".stripMargin

  /** The duplicate-bearing corpus exactly as `LlmOpQueries.nearDupCorpus`
    * builds it: all documents ∪ every-10th with one token appended, ids
    * shifted +1,000,000. */
  private def nearDupCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text || ' extraword' AS text
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** The near-dup corpus replicated 10× under disjoint vocabularies
    * (`LlmOpQueries.nearDupCorpus10x`): ids offset per replica, every
    * non-whitespace run suffixed `_r<k>`. */
  private def nearDupCorpus10xSql: String =
    s"""SELECT d.doc_id + k.k * 10000000 AS doc_id,
       |       regexp_replace(d.text, '(\\S+)', '\\1_r' || CAST(k.k AS VARCHAR), 'g') AS text
       |FROM ($nearDupCorpusSql) d
       |CROSS JOIN (SELECT unnest(range(10)) AS k) k""".stripMargin

  /** Replays oCorpusDiff / oCorpusDiff10x over any (doc_id, text) base SQL:
    * the two-version fixture construction (add/remove/edit/duplicate legs
    * keyed on doc_id arithmetic), then CorpusDiff's count + bit_xor + sum
    * (md5-60) per-key collapse and full-outer classification. */
  private def corpusDiffSql(baseSql: String): String =
    s"""WITH base AS ($baseSql),
       |old_v AS (
       |  SELECT doc_id, text FROM base WHERE doc_id % 10 <> 3
       |  UNION ALL
       |  SELECT doc_id, text FROM base
       |  WHERE doc_id % 97 = 5 AND doc_id % 10 <> 3
       |),
       |new_v AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 10 = 1 THEN text || ' [v2]' ELSE text END AS text
       |  FROM base WHERE doc_id % 10 <> 7
       |),
       |o AS (SELECT doc_id, count(*) AS n,
       |        bit_xor(${hex60Sql("md5(text)")}) AS x,
       |        sum(${hex60Sql("md5(text)")}) AS sm
       |      FROM old_v GROUP BY doc_id),
       |n AS (SELECT doc_id, count(*) AS n,
       |        bit_xor(${hex60Sql("md5(text)")}) AS x,
       |        sum(${hex60Sql("md5(text)")}) AS sm
       |      FROM new_v GROUP BY doc_id)
       |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       |       CASE WHEN o.doc_id IS NULL THEN 'added'
       |            WHEN n.doc_id IS NULL THEN 'removed'
       |            ELSE 'changed' END AS change,
       |       coalesce(o.n, 0) AS n_old,
       |       coalesce(n.n, 0) AS n_new
       |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
       |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
       |   OR o.n <> n.n OR o.x <> n.x OR o.sm <> n.sm
       |ORDER BY doc_id""".stripMargin

  /** `Dedup.portableHash60` as DuckDB SQL: the value of the first 15 hex
    * chars of an md5-hex expression, via per-digit strpos arithmetic (the
    * same engine-portable idiom as the shard replays; 15 digits < 2^60
    * never overflow BIGINT). */
  private def hex60Sql(h: String): String =
    (0 until 15).map { i =>
      s"(strpos('0123456789abcdef', substring($h, ${i + 1}, 1))-1)*${BigInt(16).pow(14 - i)}"
    }.mkString("(", "\n      + ", ")")

  /**
   * Replays `Dedup.nearDuplicatePairs(portableHashing = true)` end-to-end
   * over `corpusSql` (32 hashes × 8 bands, bucket cap 256, Jaccard ≥ 0.7):
   * md5-60-bit shingle hashes → one-permutation slot minima → circular
   * densification (each slot borrows the nearest non-empty slot scanning
   * forward) → comma-joined band keys → over-full-bucket pruning →
   * candidate pairs → exact n-gram Jaccard verify → counts. LSH replay is
   * near-LINEAR in the corpus (the all-pairs oracle of the `_verified`
   * twins is O(N²)), which is what lets the FULL-corpus count rows carry a
   * real oracle.
   */
  private def minhashPortableSql(corpusSql: String): String =
    s"""WITH corpus AS ($corpusSql),
       |tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |       FROM corpus),
       |sh AS (SELECT doc_id, ${shingleSql("toks")} AS shs FROM tk),
       |hs AS (SELECT doc_id, ${hex60Sql("md5(s)")} AS h
       |       FROM (SELECT doc_id, unnest(shs) AS s FROM sh)),
       |slotmin AS (SELECT doc_id, h % 32 AS slot, min(h) AS m
       |            FROM hs GROUP BY 1, 2),
       |allslot AS (SELECT d.doc_id, s.slot
       |            FROM (SELECT DISTINCT doc_id FROM slotmin) d
       |            CROSS JOIN (SELECT unnest(range(32)) AS slot) s),
       |dense AS (SELECT doc_id, slot, v FROM (
       |    SELECT a.doc_id, a.slot, sm.m AS v,
       |           row_number() OVER (PARTITION BY a.doc_id, a.slot
       |             ORDER BY (sm.slot - a.slot + 32) % 32) AS rn
       |    FROM allslot a JOIN slotmin sm USING (doc_id))
       |  WHERE rn = 1),
       |sig AS (SELECT doc_id, list(v ORDER BY slot) AS sig
       |        FROM dense GROUP BY doc_id),
       |bands AS (SELECT doc_id, b.b,
       |                 array_to_string(sig[4*b.b+1:4*b.b+4], ',') AS bkey
       |          FROM sig CROSS JOIN (SELECT unnest(range(8)) AS b) b),
       |pruned AS (SELECT * FROM bands
       |           QUALIFY count(*) OVER (PARTITION BY b, bkey) <= 256),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |         FROM pruned a JOIN pruned c
       |           ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
       |ver AS (SELECT id_a, id_b,
       |          CASE WHEN len(list_distinct(list_concat(sa.shs, sb.shs))) = 0 THEN 0.0
       |               ELSE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
       |                    / len(list_distinct(list_concat(sa.shs, sb.shs))) END AS jaccard
       |        FROM cand
       |        JOIN sh sa ON sa.doc_id = cand.id_a
       |        JOIN sh sb ON sb.doc_id = cand.id_b)
       |SELECT count(*) AS n_pairs,
       |       CAST(sum(CASE WHEN id_b = id_a + 1000000 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_planted_found
       |FROM ver WHERE jaccard >= 0.7""".stripMargin

  /** One 16-bit chunk of the portable SimHash as a conditional-sum over the
    * 32 per-token digit columns (see `SimHashHexChunksExpr`: bit j of chunk
    * c votes with bit j%4 of hex digit 4c + (3 - j/4); strict majority). */
  private def simhashChunkSql(c: Int): String =
    (0 until 16).map { j =>
      val p = 4 * c + (3 - j / 4) + 1 // 1-based hex digit position
      s"CASE WHEN 2*SUM((d$p >> ${j % 4}) & 1) > count(*) THEN ${1 << j} ELSE 0 END"
    }.mkString("CAST(", "\n        + ", " AS BIGINT)")

  /**
   * Replays `Dedup.simhashNearDuplicates` over
   * `corpusSql` (Hamming ≤ 12, bucket cap 256): per-token md5 digests →
   * per-digit bit votes → strict-majority chunk values → chunk-bucket
   * pruning → candidate pairs → exact chunk-wise Hamming → counts.
   */
  private def simhashPortableSql(corpusSql: String): String = {
    val digitCols = (1 to 32).map { p =>
      s"(strpos('0123456789abcdef', substring(h, $p, 1))-1) AS d$p"
    }.mkString(",\n       ")
    val chunkCols = (0 until 8).map(c => s"${simhashChunkSql(c)} AS c$c")
      .mkString(",\n    ")
    val chunkList = (0 until 8).map(c => s"c$c").mkString("[", ", ", "]")
    val hamming = (0 until 8)
      .map(c => s"bit_count(xor(ca.c$c, cb.c$c))").mkString(" + ")
    s"""WITH corpus AS ($corpusSql),
       |tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |       FROM corpus),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM tk),
       |dg AS (SELECT doc_id,
       |       $digitCols
       |       FROM (SELECT doc_id, md5(t) AS h FROM tok)),
       |ck AS (SELECT doc_id,
       |    $chunkCols
       |  FROM dg GROUP BY doc_id),
       |chunks AS (SELECT doc_id,
       |                  unnest($chunkList) AS chunk_val,
       |                  generate_subscripts($chunkList, 1) - 1 AS chunk
       |           FROM ck),
       |pruned AS (SELECT * FROM chunks
       |           QUALIFY count(*) OVER (PARTITION BY chunk, chunk_val) <= 256),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |         FROM pruned a JOIN pruned c
       |           ON a.chunk = c.chunk AND a.chunk_val = c.chunk_val
       |          AND a.doc_id < c.doc_id),
       |ham AS (SELECT id_a, id_b, $hamming AS hamming
       |        FROM cand
       |        JOIN ck ca ON ca.doc_id = cand.id_a
       |        JOIN ck cb ON cb.doc_id = cand.id_b)
       |SELECT count(*) AS n_pairs,
       |       CAST(sum(CASE WHEN id_b = id_a + 1000000 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_planted_found
       |FROM ham WHERE hamming <= 12""".stripMargin
  }

  /** Exact all-pairs n-gram Jaccard (≥ 0.7) over the bounded every-10th /
    * mutated-copy sub-corpus — the shared ground truth for BOTH sketch
    * families' verified-pair queries: each must reproduce this list exactly.
    * `minTokens` restricts the corpus to documents of at least that many
    * whitespace tokens (0 = no gate) — the SimHash certificate applies the
    * operator's own length precondition; MinHash runs ungated. */
  private def boundedVerifiedPairsSql(minTokens: Int): String = {
    // exact-boundary fixture rows, sourced from the SAME constant the
    // Spark query unions in (LlmOpQueries.BoundaryPairDocs) — r12: pins
    // the >= comparator at exactly 7/10 = 0.7. The simhash variant's
    // minTokens = 20 gate excludes them on BOTH sides (9-13 tokens).
    val boundaryRows = LlmOpQueries.BoundaryPairDocs
      .map { case (id, text) => s"($id, ${sq(text)})" }.mkString(", ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 10 = 0 AND doc_id < 1000
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text || ' extraword' AS text
       |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 1000
       |  UNION ALL
       |  SELECT * FROM (VALUES $boundaryRows) AS b(doc_id, text)),
       |tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |       FROM corpus),
       |sh AS (SELECT doc_id, ${shingleSql("toks")} AS sh FROM tk
       |       WHERE len(toks) >= $minTokens),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
       |              ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |                   / len(list_distinct(list_concat(a.sh, b.sh))) END AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.7
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The chain corpus (two mutated copies per base doc) and the exact
    * >= 0.7 pair graph transitively closed with a recursive CTE: emits
    * `corpus(doc_id, text)` and `lbl(id, mr)`, the min reachable id per
    * non-singleton doc. Shared by `dedup_cluster_assign` and
    * `dedup_keep_best`, as the engine side shares one clustering
    * (`LlmOpQueries.chainClusters`). Corpus bound < 500 (50 base docs):
    * the 3x corpus makes this O(N^2)+recursive oracle ~4x costlier per doc
    * than the verified-pairs ones — 50 three-chains certify the same
    * properties without padding the DuckDB baseline total (9.6 s at < 1000
    * vs ~2.4 s here). */
  private val chainClosureSql: String =
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 10 = 0 AND doc_id < 500
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text || ' extraword' AS text
       |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 500
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id,
       |         text || ' extraword extrawordtwo' AS text
       |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 500),
       |tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |       FROM corpus),
       |sh AS (SELECT doc_id, ${shingleSql("toks")} AS sh FROM tk),
       |pairs AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
       |             ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |                  / len(list_distinct(list_concat(a.sh, b.sh))) END >= 0.7),
       |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
       |reach AS (
       |  SELECT u AS id, v AS r FROM edges
       |  UNION
       |  SELECT reach.id, e.v AS r FROM reach JOIN edges e ON reach.r = e.u),
       |lbl AS (SELECT id, min(r) AS mr FROM reach GROUP BY id)""".stripMargin

  /** The bigram-LM chain (`LmScore.perplexityFilter`) over `corpusSql`
    * (must provide doc_id, lang, text), up to the per-doc `agg` CTE —
    * callers append their own final SELECT over `tk`/`agg`. Shared by the
    * 1× (per-doc rows) and 10× (aggregate) oracle entries so the model
    * arithmetic cannot drift between them. */
  private def lmPerDocSql(corpusSql: String): String =
    s"""WITH corpus AS ($corpusSql),
       |${lmTokenChainSql()},
       |${lmModelChainSql("", "lang = 'en'")}""".stripMargin

  /** Shared tokenize/bigram CTEs (`tk`, `bgd`, `bge`) over a `corpus` CTE
    * providing (doc_id, lang, text) — the model-independent half of the LM
    * replay, factored so multi-model scorers reuse ONE bigram explode. */
  private def lmTokenChainSql(): String =
    s"""tk AS (SELECT doc_id, lang,
       |              string_split_regex(trim(lower(text)), '\\s+') AS toks
       |            FROM corpus),
       |bgd AS (SELECT doc_id,
       |          unnest([{'w1': toks[i], 'w2': toks[i+1]}
       |                  FOR i IN range(1, len(toks))]) AS bg
       |        FROM tk),
       |bge AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM bgd)""".stripMargin

  /** One trained-model chain (`tr`/`c12`/`c1`/`v`/`sc`/`agg`, all
    * suffix-renamed) over the shared token CTEs: training slice =
    * `tk WHERE trainPred`, add-0.5 smoothing, per-doc mean NLL rounded to
    * 6 dp — exactly `LmScore.train`+`score`. Suffixing lets several models
    * (DSIR's target + raw) coexist in one WITH chain without duplicating
    * the arithmetic source. */
  private def lmModelChainSql(sfx: String, trainPred: String): String =
    s"""tr$sfx AS (SELECT doc_id FROM tk WHERE $trainPred),
       |c12$sfx AS (SELECT w1, w2, count(*) AS c12 FROM bge
       |        WHERE doc_id IN (SELECT doc_id FROM tr$sfx) GROUP BY 1, 2),
       |c1$sfx AS (SELECT w1, count(*) AS c1 FROM bge
       |       WHERE doc_id IN (SELECT doc_id FROM tr$sfx) GROUP BY 1),
       |v$sfx AS (SELECT count(DISTINCT t) AS v FROM
       |        (SELECT unnest(toks) AS t FROM tk
       |         WHERE doc_id IN (SELECT doc_id FROM tr$sfx))),
       |sc$sfx AS (SELECT b.doc_id,
       |         -ln((coalesce(c.c12, 0) + 0.5) /
       |             (coalesce(c1$sfx.c1, 0) + 0.5 * v$sfx.v)) AS nlp
       |       FROM bge b LEFT JOIN c12$sfx c USING (w1, w2)
       |       LEFT JOIN c1$sfx USING (w1) CROSS JOIN v$sfx),
       |agg$sfx AS (SELECT doc_id, count(*) AS n_bigrams,
       |          round(avg(nlp), 6) AS nll
       |        FROM sc$sfx GROUP BY 1)""".stripMargin

  /**
   * One BPE merge stage as SQL: rewrite word table `prev` into `out` by
   * merging, greedily left-to-right, every adjacent (a, b) occurrence of
   * the pair in `pick` (a 0-or-1-row CTE; empty → stage is a no-op).
   * Greedy-left-to-right over a run of consecutive matches = take the
   * run's even offsets — islands (i − row_number over matches) + parity.
   * Mirrors `BpeSegmentExpr`'s in-place scan exactly.
   */
  private def bpeMergeStageSql(prev: String, out: String,
                               pick: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT word, any_value(cnt) AS cnt,
       |         list(osym ORDER BY i) FILTER (WHERE osym IS NOT NULL) AS s
       |  FROM (
       |    SELECT word, cnt, i,
       |           CASE WHEN ch = 1 THEN (SELECT a || b FROM $pick)
       |                WHEN coalesce(lag(ch) OVER (PARTITION BY word ORDER BY i), 0) = 1
       |                  THEN NULL
       |                ELSE sym END AS osym
       |    FROM (
       |      SELECT word, cnt, i, sym, mk, isl,
       |             CASE WHEN mk = 1 AND (row_number() OVER (
       |                    PARTITION BY word, isl ORDER BY i) - 1) % 2 = 0
       |                  THEN 1 ELSE 0 END AS ch
       |      FROM (
       |        SELECT word, cnt, i, sym, mk,
       |               CASE WHEN mk = 1 THEN i - row_number() OVER (
       |                      PARTITION BY word, mk ORDER BY i) ELSE NULL END AS isl
       |        FROM (
       |          SELECT word, cnt, i, sym,
       |                 CASE WHEN sym = (SELECT a FROM $pick)
       |                      AND lead(sym) OVER (PARTITION BY word ORDER BY i)
       |                          = (SELECT b FROM $pick)
       |                      THEN 1 ELSE 0 END AS mk
       |          FROM (SELECT word, cnt, generate_subscripts(s, 1) AS i,
       |                       unnest(s) AS sym FROM $prev)))))
       |  GROUP BY word)""".stripMargin

  /** Pair census + argmax pick for one learn round (count DESC, then
    * lexicographically smallest pair — the cross-engine tie-break). */
  private def bpePickStageSql(prev: String, k: Int): String =
    s"""p$k AS MATERIALIZED (SELECT a, b, sum(cnt) AS c FROM
       |  (SELECT cnt, unnest(s[1:len(s)-1]) AS a, unnest(s[2:len(s)]) AS b
       |   FROM $prev)
       |  GROUP BY a, b),
       |pick$k AS (SELECT a, b FROM p$k ORDER BY c DESC, a, b LIMIT 1)""".stripMargin

  /** The full BPE learn chain (word counts → ASCII gate → top-`vocabCap`
    * vocab → `nMerges` pick/merge rounds), ending at CTE `w<nMerges>` with
    * picks `pick1..pick<nMerges>` in scope. Generated from the SAME
    * (nMerges, vocabCap, gate) configuration the Spark operator uses, so
    * the two cannot drift. */
  private def bpeLearnChainSql(nMerges: Int, vocabCap: Int): String = {
    val head =
      s"""wc AS (SELECT w AS word, count(*) AS cnt FROM
         |        (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         |         FROM documents)
         |       WHERE regexp_matches(w, '^[\\x21-\\x7e]+$$')
         |       GROUP BY w),
         |topv AS (SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT $vocabCap),
         |w0 AS MATERIALIZED (SELECT word, cnt, regexp_extract_all(word, '.') AS s FROM topv)""".stripMargin
    val stages = (1 to nMerges).map { k =>
      bpePickStageSql(s"w${k - 1}", k) + ",\n" +
        bpeMergeStageSql(s"w${k - 1}", s"w$k", s"pick$k")
    }
    (head +: stages).mkString(",\n")
  }

  /** Apply chain: every DISTINCT corpus word (no gate — apply handles any
    * word) run through the learned merges in rank order, reusing the same
    * stage machinery against pick1..pick<nMerges>. Ends at `aw<nMerges>`. */
  private def bpeApplyChainSql(nMerges: Int): String = {
    val head =
      s"""aw0 AS MATERIALIZED (SELECT word, 1 AS cnt, regexp_extract_all(word, '.') AS s FROM
         |  (SELECT DISTINCT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
         |   FROM documents))""".stripMargin
    val stages = (1 to nMerges).map { k =>
      bpeMergeStageSql(s"aw${k - 1}", s"aw$k", s"pick$k")
    }
    (head +: stages).mkString(",\n")
  }

  private val BpeMerges = 24
  private val BpeVocabCap = 2000

  /** The filter-cascade metric CTEs over a `tk(doc_id, toks, ...)` CTE:
    * `m` (stopword ratio, bigrams, per-language marker hits) and `m2` (dup
    * fraction, language). `nTokens` is `m`'s token-count column. Shared by
    * `t_filter_cascade` and `t_curation_pipeline`. Stopword and marker
    * literals are sourced from the same Scala Seqs the engine uses (no
    * drift). */
  private def cascadeMetricsSql(nTokens: String): String =
    s"""m AS (SELECT doc_id, $nTokens,
       |        CASE WHEN len(toks) > 0
       |             THEN CAST(len(list_filter(toks, x -> list_contains(
       |                    ${stopwordsList}, x))) AS DOUBLE) / len(toks)
       |             ELSE 0.0 END AS stopword_ratio,
       |        [array_to_string(toks[i:i+1], ' ')
       |         FOR i IN range(1, greatest(len(toks)-1, 1) + 1)] AS grams,
       |        len(list_filter(toks, x -> list_contains(${markers("en")}, x))) AS en,
       |        len(list_filter(toks, x -> list_contains(${markers("es")}, x))) AS es,
       |        len(list_filter(toks, x -> list_contains(${markers("fr")}, x))) AS fr,
       |        len(list_filter(toks, x -> list_contains(${markers("de")}, x))) AS de,
       |        len(list_filter(toks, x -> list_contains(${markers("zh")}, x))) AS zh
       |      FROM tk),
       |m2 AS (SELECT doc_id, n_tokens, stopword_ratio,
       |         CASE WHEN len(grams) > 0
       |              THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
       |                   / len(grams)
       |              ELSE 0.0 END AS dup_frac,
       |         CASE WHEN greatest(en, es, fr, de, zh) = 0 THEN 'und'
       |              WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
       |              WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
       |              WHEN es >= fr AND es >= zh THEN 'es'
       |              WHEN fr >= zh THEN 'fr'
       |              ELSE 'zh' END AS lang
       |       FROM m)""".stripMargin

  /** The tf/df/rank chain of the salient-term replay over a
    * `tok(doc_id, term)` CTE: integer-ranked tf-idf (tf DESC, corpus df
    * ASC, term ASC) as `r(doc_id, term, tf, df, rk)`. Shared by
    * `t_salient_terms` and `t_salient_terms_10x`. */
  private val salientRankSql: String =
    """tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |             row_number() OVER (PARTITION BY tf.doc_id
      |               ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rk
      |      FROM tf JOIN df USING (term))""".stripMargin

  /** The distinct 8-gram census of the span replays over a `tk(doc_id,
    * toks)` CTE: per-doc distinct grams `g(doc_id, gram)` and the grams
    * under >= 2 doc ids, `dup(gram)` (grams are per-doc distinct, so plain
    * count == distinct-doc count). Shared by `dedup_span_report` and
    * `dedup_span_report_10x`. */
  private val spanCensusSql: String =
    """g AS (SELECT doc_id,
      |             unnest(list_distinct([array_to_string(toks[i:i+7], ' ')
      |               FOR i IN range(1, greatest(len(toks)-7, 1) + 1)])) AS gram
      |      FROM tk),
      |d AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY gram),
      |dup AS (SELECT gram FROM d WHERE n_docs >= 2)""".stripMargin

  /** The perturbed embedding corpus: every vector plus a planted
    * near-copy (+1,000,000 ids) of every 10th, emitted as `corpus(vec_id,
    * v)`. Shared by `dedup_embedding_cosine` and
    * `dedup_embedding_cosine_10x_verified`. */
  private val perturbedEmbeddingsSql: String =
    """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pert AS (SELECT vec_id + 1000000 AS vec_id,
      |                list_transform(range(len(v)),
      |                               i -> v[i+1] * (1 + 0.001*((i % 5) - 2))) AS v
      |         FROM base WHERE vec_id % 10 = 0),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert)""".stripMargin

  /** The shard of an md5-hex key column `k` as Shuffling.shuffled computes
    * it: the value of the key's first 4 hex chars (16-bit bucket) mod
    * `nShards`. strpos arithmetic is the engine-portable form of Spark's
    * conv(); continuation lines are indented `indent` spaces. Shared by
    * `samp_shuffle_shards`, `samp_mix_weighted` and `t_curation_pipeline`. */
  private def md5ShardSql(nShards: Int, indent: Int): String =
    Seq(4096, 256, 16, 1).zipWithIndex.map { case (w, i) =>
      s"(strpos('0123456789abcdef', substring(k,${i + 1},1))-1)" +
        (if (w > 1) s"*$w" else "")
    }.mkString("CAST((", "\n" + " " * indent + "+", s") % $nShards AS BIGINT)")

  // Shared by `w_sessionize` and `w_sessionize_salted`: the salted Spark
  // form is exactly the plain operator's semantics under a different
  // physical plan, so both hash-compare against one SQL.
  // The gap/lag/running-sum chain of the sessionize replay, parameterized
  // by an (user_id, event_id, ts) relation (r12 review: the 10× entry used
  // to restate this window chain verbatim). Emits `sess(user_id,
  // session_seq, n_events, duration_us)`. The null guard mirrors
  // Sessionize.normalizeTs (r12): the operator EXCLUDES null-key/null-ts
  // rows, so the oracle must too — today's events table has none (latent),
  // but a regenerated corpus with one such row would otherwise flip every
  // sessionize hash with a confusing count diff.
  private def sessionizeChainSql(eventsSql: String): String =
    s"""e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM $eventsSql
       |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |x AS (SELECT user_id, event_id, t,
       |             lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
       |      FROM e),
       |n AS (SELECT user_id, event_id, t,
       |             CASE WHEN prev IS NULL OR t - prev >= 14400000000 THEN 1
       |                  ELSE 0 END AS is_new
       |      FROM x),
       |sid AS (SELECT user_id, t,
       |               SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
       |                                 ROWS UNBOUNDED PRECEDING) AS session_seq
       |        FROM n),
       |sess AS (SELECT user_id, session_seq, count(*) AS n_events,
       |                max(t) - min(t) AS duration_us
       |         FROM sid GROUP BY 1, 2)""".stripMargin

  private val sessionizeSql: String =
    s"""WITH ${sessionizeChainSql("events")}
      |SELECT user_id, count(*) AS n_sessions,
      |       CAST(sum(n_events) AS BIGINT) AS n_events,
      |       CAST(max(n_events) AS BIGINT) AS max_session_events,
      |       CAST(max(duration_us) AS BIGINT) AS max_session_duration_us
      |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin

  val sql: Map[String, String] = Map(
    // Trained-BPE learn replay: re-derive every merge round from scratch
    // (pair counts, argmax tie-break, greedy merge) — rows where the
    // vocabulary exhausted early simply don't exist on either side.
    "t_bpe_merges" ->
      s"""WITH ${bpeLearnChainSql(BpeMerges, BpeVocabCap)}
         |SELECT CAST(rank AS BIGINT) AS rank, a, b FROM (
         |${(1 to BpeMerges).map(k =>
             s"  SELECT $k AS rank, a, b FROM pick$k").mkString("\n  UNION ALL\n")}
         |) WHERE a IS NOT NULL ORDER BY rank""".stripMargin,

    // Trained-BPE apply replay: the oracle learns its OWN merges (chain
    // above), applies them to every corpus word, and reassembles per-doc
    // segmentations — certifying learn AND apply with no circularity.
    "t_bpe_tokenize" ->
      s"""WITH ${bpeLearnChainSql(BpeMerges, BpeVocabCap)},
         |${bpeApplyChainSql(BpeMerges)},
         |seg AS (SELECT word, array_to_string(s, '@@') AS seg, len(s) AS nsub
         |        FROM aw$BpeMerges),
         |tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |       FROM documents),
         |tp AS (SELECT doc_id, unnest(toks) AS word,
         |              generate_subscripts(toks, 1) AS i FROM tk)
         |SELECT tp.doc_id, count(*) AS n_tokens,
         |       CAST(sum(seg.nsub) AS BIGINT) AS n_subwords,
         |       string_agg(seg.seg, ' ' ORDER BY tp.i) AS text_bpe
         |FROM tp JOIN seg USING (word)
         |GROUP BY tp.doc_id ORDER BY tp.doc_id""".stripMargin,

    "samp_deterministic" ->
      s"""SELECT doc_id FROM documents
         |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < ${thr(0.1)}
         |ORDER BY doc_id""".stripMargin,

    "samp_stratified" ->
      s"""SELECT lang, count(*) AS n_sampled FROM documents
         |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
         |  CASE lang WHEN 'en' THEN ${thr(0.5)} WHEN 'es' THEN ${thr(0.2)}
         |            WHEN 'fr' THEN ${thr(0.1)} ELSE '00000000' END
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "samp_split_counts" ->
      s"""SELECT CASE WHEN h < ${thr(0.8)} THEN 'train'
         |            WHEN h < ${thr(0.9)} THEN 'valid'
         |            ELSE 'test' END AS split, count(*) AS n_docs
         |FROM (SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
         |      FROM documents)
         |GROUP BY 1 ORDER BY split""".stripMargin,

    // Replays Shuffling.shuffled digit-by-digit: shard = [[md5ShardSql]]
    // mod 8; pos = per-shard hash rank.
    "samp_shuffle_shards" ->
      s"""WITH keyed AS (
        |  SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents),
        |sharded AS (
        |  SELECT doc_id, k,
        |    ${md5ShardSql(8, indent = 9)}
        |      AS shard
        |  FROM keyed)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
        |            AS BIGINT) AS pos
        |FROM sharded ORDER BY shard, pos""".stripMargin,

    // Replays Mixing.mixShuffled: per-source epoch unions (full copies +
    // the md5-salted partial epoch; thresholds computed from the SAME
    // doubles the operator uses, drift impossible), then the composite-key
    // shard/pos arithmetic of samp_shuffle_shards. Spark's concat_ws renders
    // mix_epoch as a bare integer string, mirrored with CAST AS VARCHAR.
    "samp_mix_weighted" -> {
      val mk = "mix_source || ':' || CAST(mix_epoch AS VARCHAR) || ':' || " +
        "CAST(doc_id AS VARCHAR)"
      s"""WITH mixed AS (
         |  SELECT 'wiki' AS mix_source, 0 AS mix_epoch, doc_id
         |    FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT 'wiki', 1, doc_id FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT 'wiki', 2, doc_id FROM documents WHERE doc_id % 3 = 0
         |    AND substring(md5('wiki:2:' || CAST(doc_id AS VARCHAR)), 1, 8)
         |        < ${thr(2.3 - 2)}
         |  UNION ALL
         |  SELECT 'books', 0, doc_id FROM documents WHERE doc_id % 3 = 1
         |  UNION ALL
         |  SELECT 'web', 0, doc_id FROM documents WHERE doc_id % 3 = 2
         |    AND substring(md5('web:0:' || CAST(doc_id AS VARCHAR)), 1, 8)
         |        < ${thr(0.25)}),
         |keyed AS (
         |  SELECT mix_source, mix_epoch, doc_id, $mk AS mk,
         |         md5('mix0:' || $mk) AS k
         |  FROM mixed),
         |sharded AS (
         |  SELECT mix_source, mix_epoch, doc_id, mk, k,
         |    ${md5ShardSql(4, indent = 9)}
         |      AS shard
         |  FROM keyed)
         |SELECT mix_source, mix_epoch, doc_id, shard,
         |       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, mk)
         |            AS BIGINT) AS pos
         |FROM sharded ORDER BY shard, pos""".stripMargin
    },

    // Replays LineDedup.dedupLines over the constructed 16-page corpus
    // (LlmOpQueries.linePages): pages = 25 own lines + 5 shared boilerplate
    // header lines; keep each distinct line's first (page_id, pos)
    // occurrence, reassemble in order. No blank lines exist in this corpus,
    // so the operator's blank-line bypass is never exercised here (covered
    // by LineDedupSpec).
    "dedup_lines" ->
      """WITH own AS (
        |  SELECT CAST(floor(doc_id/25) AS BIGINT) AS page_id,
        |         CAST(doc_id AS BIGINT) AS ord, text
        |  FROM documents WHERE doc_id >= 100 AND doc_id < 500),
        |hdr AS (
        |  SELECT p.page_id, CAST(d.doc_id - 1000 AS BIGINT) AS ord, d.text
        |  FROM (SELECT DISTINCT page_id FROM own) p
        |  CROSS JOIN (SELECT doc_id, text FROM documents WHERE doc_id < 5) d),
        |pages AS (
        |  SELECT page_id, string_agg(text, chr(10) ORDER BY ord) AS text
        |  FROM (SELECT * FROM own UNION ALL SELECT * FROM hdr)
        |  GROUP BY page_id),
        |lines AS (
        |  SELECT page_id,
        |         unnest(string_split(text, chr(10))) AS line,
        |         generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM pages),
        |tot AS (SELECT page_id, count(*) AS n_lines FROM lines GROUP BY page_id),
        |kept AS (
        |  SELECT page_id, pos, line,
        |         row_number() OVER (PARTITION BY line ORDER BY page_id, pos) AS rn
        |  FROM lines)
        |SELECT k.page_id,
        |       string_agg(k.line, chr(10) ORDER BY k.pos) AS text,
        |       t.n_lines, count(*) AS n_lines_kept
        |FROM kept k JOIN tot t USING (page_id)
        |WHERE k.rn = 1
        |GROUP BY k.page_id, t.n_lines
        |ORDER BY k.page_id""".stripMargin,

    "samp_domain_cap" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY source, doc_id""".stripMargin,

    // Replays Sampling.tokenBudgetPerGroup: admit a document iff the tokens
    // already admitted before it (hash order within source) are under the
    // budget — the pre-sum rule, so the straddling document is kept.
    "samp_token_budget" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |         CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         |              ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
         |         END AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |         coalesce(sum(CAST(n_tok AS BIGINT)) OVER (PARTITION BY source
         |           ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS tok_before
         |  FROM t WHERE n_tok > 0)
         |SELECT source, doc_id, n_tok FROM c
         |WHERE tok_before < 300 ORDER BY source, doc_id""".stripMargin,

    "t_bm25_topk" -> bm25TopKSql,

    "t_nb_classify" -> nbClassifySql,

    // count fractions + the r12 character-mass twins: mass of gram g =
    // count(g) × length(g) over the occurrence stream — the exact formula
    // TextAnalysis.repetitionMetricsOfTokens documents (integer masses,
    // one double division at the end, so the engines agree bit-for-bit)
    "t_repetition" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |            FROM documents),
         |g AS (SELECT doc_id,
         |             [array_to_string(toks[i:i+1], ' ')
         |              FOR i IN range(1, greatest(len(toks)-1, 1) + 1)] AS grams
         |      FROM tk),
         |m AS (SELECT doc_id, grams,
         |             [CAST(len(list_filter(grams, y -> y = x)) AS BIGINT) *
         |              CAST(length(x) AS BIGINT)
         |              FOR x IN list_distinct(grams)] AS masses,
         |             [CASE WHEN len(list_filter(grams, y -> y = x)) > 1
         |                   THEN CAST(len(list_filter(grams, y -> y = x)) AS BIGINT) *
         |                        CAST(length(x) AS BIGINT)
         |                   ELSE CAST(0 AS BIGINT) END
         |              FOR x IN list_distinct(grams)] AS dup_masses
         |      FROM g),
         |t AS (SELECT doc_id, grams,
         |             COALESCE(list_sum(masses), 0) AS total_mass,
         |             COALESCE(list_sum(dup_masses), 0) AS dup_mass,
         |             COALESCE(list_max(masses), 0) AS top_mass
         |      FROM m)
         |SELECT doc_id, len(grams) AS n_ngrams,
         |       CASE WHEN len(grams) > 0
         |            THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
         |            ELSE 0.0 END AS dup_ngram_frac,
         |       CASE WHEN len(grams) > 0
         |            THEN CAST(list_max([len(list_filter(grams, y -> y = x))
         |                                FOR x IN list_distinct(grams)]) AS DOUBLE) / len(grams)
         |            ELSE 0.0 END AS top_ngram_frac,
         |       CASE WHEN total_mass > 0
         |            THEN CAST(dup_mass AS DOUBLE) / total_mass
         |            ELSE 0.0 END AS dup_ngram_char_frac,
         |       CASE WHEN total_mass > 0
         |            THEN CAST(top_mass AS DOUBLE) / total_mass
         |            ELSE 0.0 END AS top_ngram_char_frac
         |FROM t ORDER BY doc_id""".stripMargin,

    "t_decontaminate" -> decontaminationSql,
    // the Bloom stage is a pre-filter whose false positives die in the
    // exact join — the output contract is identical, so the exact-overlap
    // oracle certifies the sketch-accelerated variant too
    "t_decontaminate_bloom" -> decontaminationSql,

    "t_pii_redact" -> {
      // the same patterns the Spark operator applies, in the same order —
      // sourced from TextAnalysis.piiPatterns so engine and oracle can't drift
      val pats = graft.text.TextAnalysis.piiPatterns
      // single line: '||' at a stripMargin line start would lose a pipe
      val planted = Seq(
        "text", "' contact user'", "CAST(doc_id AS VARCHAR)",
        "'@example.com call 555-'",
        "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')", "'-'",
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')",
        "' via https://ex'", "CAST(doc_id AS VARCHAR)",
        "'.org/a?b=1 from 10.0.'",
        "CAST(doc_id % 256 AS VARCHAR)", "'.'",
        "CAST((doc_id * 7) % 256 AS VARCHAR)").mkString(" || ")
      // sq() quoting (r12 review): a future pattern containing a quote must
      // embed safely, not break the generated SQL at parse time
      val redacted = pats.foldLeft("text") { case (c, (pat, tag)) =>
        s"regexp_replace($c, ${sq(pat)}, ${sq(tag)}, 'g')"
      }
      s"""WITH planted AS (SELECT doc_id, $planted AS text FROM documents)
         |SELECT doc_id,
         |       len(regexp_extract_all(text, ${sq(pats(0)._1)})) AS n_email,
         |       len(regexp_extract_all(text, ${sq(pats(1)._1)})) AS n_url,
         |       len(regexp_extract_all(text, ${sq(pats(2)._1)})) AS n_phone,
         |       len(regexp_extract_all(text, ${sq(pats(3)._1)})) AS n_ip,
         |       $redacted AS redacted
         |FROM planted ORDER BY doc_id""".stripMargin
    },

    "t_salient_terms" ->
      s"""WITH tok AS (SELECT doc_id,
        |                    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        |             FROM documents),
        |$salientRankSql
        |SELECT doc_id, term, tf, df FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    // 10× scaling twin: DuckDB replays the corpus replication AND the
    // tf-idf ranking, so the scaling query's output (not just its timing)
    // is certified — the aggregate shape keeps the compare payload small
    "t_salient_terms_10x" ->
      s"""WITH rep AS ($docs10xSql),
         |tok AS (SELECT doc_id,
         |               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
         |        FROM rep),
         |$salientRankSql
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT term) AS BIGINT) AS n_distinct_terms
         |FROM r WHERE rk = 1""".stripMargin,

    "t_decontaminate_10x" ->
      s"""WITH rep AS ($docs10xSql),
         |${decontaminationChainSql("rep")},
         |rep_ AS (SELECT tr.doc_id,
         |                sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
         |         FROM tr LEFT JOIN ev ON tr.shingle = ev.shingle
         |         GROUP BY tr.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_train_docs,
         |       CAST(sum(CASE WHEN n_overlap > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_contaminated
         |FROM rep_""".stripMargin,

    "w_sessionize_10x" ->
      s"""WITH ${sessionizeChainSql(
           """(SELECT user_id + k.k * 1000000 AS user_id,
             |        event_id + k.k * 100000000 AS event_id, ts
             | FROM events CROSS JOIN (SELECT unnest(range(10)) AS k) k)"""
             .stripMargin)}
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(sum(n_events) AS BIGINT) AS n_events
        |FROM sess""".stripMargin,

    "t_pack_plan" ->
      """WITH t AS (SELECT doc_id,
        |                  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |                       ELSE len(string_split_regex(trim(lower(text)), '\s+'))
        |                  END AS n_tokens,
        |                  doc_id % 8 AS shard,
        |                  substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
        |           FROM documents),
        |o AS (SELECT doc_id, shard, n_tokens,
        |             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |      FROM t)
        |SELECT doc_id, shard, CAST(off AS BIGINT) AS offset,
        |       CAST(floor(off / 512) AS BIGINT) AS pack_first,
        |       CAST(floor((off + greatest(n_tokens, 1) - 1) / 512) AS BIGINT)
        |         AS pack_last
        |FROM o ORDER BY doc_id""".stripMargin,

    // CMS heavy hitters: exact top-20 TOTAL term frequencies; the sketch
    // verdict is expected true per the CMS guarantee (fixed seed →
    // deterministic), so the hash certifies the estimator stays in bound.
    "t_cms_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |             FROM documents)
        |SELECT w AS term, count(*) AS n, true AS within_bound FROM tok
        |GROUP BY w ORDER BY n DESC, term LIMIT 20""".stripMargin,

    "t_top_terms" ->
      """WITH tok AS (SELECT DISTINCT doc_id,
        |                    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |             FROM documents)
        |SELECT term, count(*) AS df FROM tok
        |GROUP BY term ORDER BY df DESC, term LIMIT 20""".stripMargin,

    "v_quantize_int8" ->
      """WITH s AS (SELECT vec_id, embedding AS emb,
        |                  list_max([abs(x) FOR x IN embedding]) AS mx
        |           FROM embeddings),
        |sc AS (SELECT vec_id, emb,
        |              CASE WHEN mx > 0 THEN CAST(mx AS DOUBLE) / 127 ELSE 1.0 END AS scale
        |       FROM s),
        |q AS (SELECT vec_id, emb, scale,
        |             [greatest(-127, least(127,
        |                CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))
        |              FOR x IN emb] AS qv
        |      FROM sc)
        |SELECT vec_id, scale, len(qv) AS n_dims,
        |       CAST(list_min(qv) AS INT) AS q_min,
        |       CAST(list_max(qv) AS INT) AS q_max,
        |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |       list_max([abs(CAST(qv[i] AS DOUBLE) * scale - CAST(emb[i] AS DOUBLE))
        |                 FOR i IN range(1, len(qv) + 1)]) AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin,

    "j_range_join" ->
      """WITH bands AS (SELECT o_orderkey AS band_key,
        |                      o_totalprice * 0.05 AS lo,
        |                      o_totalprice * 0.055 AS hi
        |               FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50)
        |SELECT band_key, count(*) AS n_in_band
        |FROM bands JOIN lineitem ON l_extendedprice BETWEEN lo AND hi
        |GROUP BY band_key ORDER BY band_key""".stripMargin,

    "sim_brute_force_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.query_id, c.vec_id AS corpus_id,
        |             list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                    CAST(q.qe AS DOUBLE[])) AS cos
        |      FROM embeddings c, q WHERE c.vec_id <> q.query_id),
        |r AS (SELECT query_id, corpus_id,
        |             row_number() OVER (PARTITION BY query_id
        |                                ORDER BY cos DESC, corpus_id) AS rank
        |      FROM s)
        |SELECT query_id, corpus_id, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Full portable sign-LSH replay (r14, converts the row from rows-only):
    // hyperplane components from md5 digits (the portableHash60 digit
    // arithmetic), normalization and projections folded in ascending index
    // order (bit-identical to the Spark expressions — see
    // PortableSignLshSketchExpr scaladoc), buckets as Σ sign-bits,
    // multi-probe = XOR masks at Hamming ≤ 2, candidate join, cosine top-5
    // inside the candidates, recall vs the exact top-5. Every stage of the
    // ANN pipeline is replayed digit-for-digit; only the top-5 ranking
    // reuses list_cosine_similarity for ORDER (the certified
    // sim_brute_force_topk precedent — values never compared, rank
    // boundaries proven stable on this corpus at both scales).
    "sim_lsh_recall" -> {
      val planeComp = hex60Sql(
        "md5(CAST(t.t AS VARCHAR) || ':' || CAST(b.b AS VARCHAR) || ':' || CAST(d.d AS VARCHAR))")
      s"""WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nrm AS (SELECT vec_id, v,
         |               sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nm
         |        FROM corpus),
         |nv AS (SELECT vec_id,
         |              CASE WHEN nm > 0 THEN list_transform(v, x -> x / nm) ELSE v END AS vh
         |       FROM nrm),
         |planes AS (
         |  SELECT t, b, list(comp ORDER BY d) AS comps
         |  FROM (SELECT t.t, b.b, d.d,
         |               CAST($planeComp AS DOUBLE) / 576460752303423488.0 - 1.0 AS comp
         |        FROM (SELECT range AS t FROM range(16)) t,
         |             (SELECT range AS b FROM range(6)) b,
         |             (SELECT range AS d FROM range(64)) d)
         |  GROUP BY t, b),
         |proj AS (
         |  SELECT n.vec_id, p.t, p.b,
         |         list_reduce(list_transform(range(len(n.vh)),
         |                                    i -> n.vh[i+1] * p.comps[i+1]),
         |                     (a,b) -> a+b) AS pr
         |  FROM nv n, planes p),
         |buck AS (
         |  SELECT vec_id, t,
         |         CAST(sum(CASE WHEN pr >= 0
         |                       THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
         |                       ELSE 0 END) AS BIGINT) AS bucket
         |  FROM proj GROUP BY vec_id, t),
         |masks AS (
         |  SELECT CAST(0 AS BIGINT) AS m
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT) << CAST(i.range AS INTEGER) FROM range(6) i
         |  UNION ALL
         |  SELECT (CAST(1 AS BIGINT) << CAST(i.range AS INTEGER))
         |         | (CAST(1 AS BIGINT) << CAST(j.range AS INTEGER))
         |  FROM range(6) i, range(6) j WHERE i.range < j.range),
         |qb AS (SELECT q.vec_id AS query_id, q.t, xor(q.bucket, masks.m) AS bucket
         |       FROM buck q, masks WHERE q.vec_id < 10),
         |cand AS (SELECT DISTINCT qb.query_id, cb.vec_id AS corpus_id
         |         FROM qb JOIN buck cb ON qb.t = cb.t AND qb.bucket = cb.bucket
         |         WHERE cb.vec_id <> qb.query_id),
         |qv AS (SELECT vec_id AS query_id, v AS qe FROM corpus WHERE vec_id < 10),
         |exact AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.query_id, c.vec_id AS corpus_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |                              ORDER BY list_cosine_similarity(c.v, q.qe) DESC,
         |                                       c.vec_id) AS rank
         |    FROM corpus c, qv q WHERE c.vec_id <> q.query_id)
         |  WHERE rank <= 5),
         |approx AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT cand.query_id, cand.corpus_id,
         |           row_number() OVER (PARTITION BY cand.query_id
         |                              ORDER BY list_cosine_similarity(c.v, q.qe) DESC,
         |                                       cand.corpus_id) AS rank
         |    FROM cand JOIN corpus c ON cand.corpus_id = c.vec_id
         |              JOIN qv q ON cand.query_id = q.query_id)
         |  WHERE rank <= 5),
         |rec AS (
         |  SELECT CAST(coalesce(sum(CASE WHEN a.corpus_id IS NOT NULL THEN 1 END), 0) AS DOUBLE)
         |         / greatest(count(*), 1) AS recall_at_5
         |  FROM exact e LEFT JOIN approx a
         |    ON e.query_id = a.query_id AND e.corpus_id = a.corpus_id)
         |SELECT recall_at_5, recall_at_5 >= 0.9 AS meets_target
         |FROM rec WHERE recall_at_5 >= 0.9""".stripMargin
    },

    // the sketch value is engine-specific: the oracle recomputes the EXACT
    // percentiles and expects the error-bound verdicts to hold (a8 pattern)
    "a_percentile_approx" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS p50_exact,
        |       quantile_cont(l_quantity, 0.9) AS p90_exact,
        |       count(*) AS n,
        |       TRUE AS p50_within_5pct,
        |       TRUE AS p90_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_percentile" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.25) AS p25_qty,
        |       quantile_cont(l_quantity, 0.5) AS p50_qty,
        |       quantile_cont(l_quantity, 0.9) AS p90_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "j_skew_salted" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM (SELECT CASE WHEN l_orderkey % 5 = 0 THEN 1 ELSE l_orderkey END AS l_orderkey,
        |             l_extendedprice
        |      FROM lineitem) l
        |JOIN orders ON l.l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "j_scd2_merge" -> scd2MergeSql,

    "w_sessionize" -> sessionizeSql,

    // the salted (skew-safe) Spark form must produce the BIT-SAME result as
    // the plain form — one oracle serves both, so a boundary-merge bug in
    // sessionStatsSalted flips this row's hash compare
    "w_sessionize_salted" -> sessionizeSql,

    // exact-substring duplicate spans ([[spanCensusSql]]) per doc;
    // input = corpus + planted exact copies of every 10th doc (r12: the
    // duplicate path must be exercised by CONSTRUCTION, not corpus luck)
    "dedup_span_report" ->
      s"""WITH src AS (SELECT doc_id, text FROM documents
        |             UNION ALL
        |             SELECT doc_id + 1000000, text FROM documents
        |             WHERE doc_id % 10 = 0),
        |tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
        |            FROM src),
        |$spanCensusSql
        |SELECT g.doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_grams,
        |       CAST(sum(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS dup_frac
        |FROM g LEFT JOIN dup ON g.gram = dup.gram
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    // The 10× span census, replayed END-TO-END (r11 — converts the row from
    // rows-only structural self-check to a hash oracle): DuckDB rebuilds
    // the disjoint-vocab replicated corpus, the per-doc distinct 8-gram
    // sets, the cross-doc census, and the three aggregate totals. The Spark
    // side runs hashGrams = true (the 100 TB mode — shuffles carry xxhash64
    // longs); DuckDB groups the RAW gram strings, which agrees exactly
    // unless two distinct grams collide under xxhash64 (~4M grams at the
    // sf1 10× scale ⇒ p ≈ 4e-7, and deterministic per corpus — a collision
    // would show as a stable off-by-one, not a flake).
    "dedup_span_report_10x" ->
      s"""WITH rep AS ($docs10xSql),
        |tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
        |       FROM rep),
        |$spanCensusSql,
        |per AS (SELECT g.doc_id, count(*) AS n_grams,
        |               sum(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
        |        FROM g LEFT JOIN dup ON g.gram = dup.gram
        |        GROUP BY g.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_grams) AS BIGINT) AS n_grams_total,
        |       CAST(sum(n_dup) AS BIGINT) AS n_dup_grams_total
        |FROM per""".stripMargin,

    // Maximal duplicate-span excision: POSITIONAL 8-token grams (repeats
    // included), a gram occurrence is excisable iff its content occurs >= 2
    // times corpus-wide AND it is not the global first occurrence (min
    // (doc_id, gpos)); marked starts merge gaps-and-islands style where
    // spans [p, p+8) overlap or abut, and surviving tokens reassemble in
    // order. Replays Dedup.exciseDuplicateSpans end-to-end.
    "dedup_span_excise" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |            FROM documents),
        |pg0 AS (SELECT doc_id, toks,
        |               unnest(range(greatest(len(toks) - 7, 0))) AS gpos
        |        FROM tk),
        |pg AS (SELECT doc_id, gpos,
        |              array_to_string(toks[gpos+1:gpos+8], ' ') AS gram
        |       FROM pg0),
        |fo AS (SELECT doc_id, gpos,
        |              row_number() OVER (PARTITION BY gram
        |                ORDER BY doc_id, gpos) AS rn,
        |              count(*) OVER (PARTITION BY gram) AS cnt
        |       FROM pg),
        |mk AS (SELECT doc_id, gpos FROM fo WHERE cnt >= 2 AND rn > 1),
        |isl AS (SELECT doc_id, gpos,
        |          CASE WHEN gpos <= coalesce(max(gpos + 8) OVER (
        |                 PARTITION BY doc_id ORDER BY gpos
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |               THEN 0 ELSE 1 END AS brk
        |        FROM mk),
        |grp AS (SELECT doc_id, gpos,
        |               sum(brk) OVER (PARTITION BY doc_id ORDER BY gpos) AS g
        |        FROM isl),
        |sp AS (SELECT doc_id, min(gpos) AS s, max(gpos) + 8 AS e
        |       FROM grp GROUP BY doc_id, g),
        |spstr AS (SELECT doc_id, count(*) AS n_spans,
        |                 string_agg(s || ':' || e, ',' ORDER BY s) AS spans
        |          FROM sp GROUP BY doc_id),
        |tp AS (SELECT doc_id, unnest(toks) AS t,
        |              generate_subscripts(toks, 1) - 1 AS i
        |       FROM tk),
        |keptt AS (SELECT tp.doc_id, count(*) AS n_kept,
        |                 string_agg(tp.t, ' ' ORDER BY tp.i) AS text_deduped
        |          FROM tp LEFT JOIN sp
        |            ON sp.doc_id = tp.doc_id AND tp.i >= sp.s AND tp.i < sp.e
        |          WHERE sp.doc_id IS NULL
        |          GROUP BY tp.doc_id)
        |SELECT tk.doc_id, len(tk.toks) AS n_tokens,
        |       CAST(coalesce(spstr.n_spans, 0) AS BIGINT) AS n_spans,
        |       coalesce(spstr.spans, '') AS spans,
        |       CAST(len(tk.toks) - coalesce(keptt.n_kept, 0) AS BIGINT)
        |         AS n_tokens_removed,
        |       coalesce(keptt.text_deduped, '') AS text_deduped
        |FROM tk LEFT JOIN spstr USING (doc_id)
        |LEFT JOIN keptt ON keptt.doc_id = tk.doc_id
        |ORDER BY tk.doc_id""".stripMargin,

    // Streaming-dedup replay ground truth: each batch crossed against the
    // corpus plus every EARLIER batch — minus corpus-side ids present in
    // the probing batch (the operator's re-delivery guard; batch 4
    // re-delivers batch 1's rows, making the NOT-IN non-vacuous; doc_ids
    // are non-null so NOT IN is safe) — plus every batch's INTRA-batch
    // pairs in (min_id, max_id) orientation (batch 3 shares nothing
    // planted; any natural near-dups are in the truth too). Certifies the
    // foreachBatch state evolution — see LlmOpQueries.dedupStreamingReplay.
    "dedup_streaming_replay" ->
      s"""WITH c0 AS (
         |  SELECT doc_id, text, 0 AS batch FROM documents
         |  WHERE doc_id % 10 = 0 AND doc_id < 1000),
         |b1 AS (
         |  SELECT doc_id + 10000000 AS doc_id, text || ' extraword' AS text,
         |         1 AS batch
         |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 1000),
         |b2 AS (
         |  SELECT doc_id + 20000000 AS doc_id,
         |         text || ' extraword extrabatch' AS text, 2 AS batch
         |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 1000),
         |b3 AS (
         |  SELECT doc_id + 30000000 AS doc_id, text, 3 AS batch
         |  FROM documents WHERE doc_id % 10 = 5 AND doc_id < 1000),
         |b4 AS (
         |  SELECT doc_id + 10000000 AS doc_id, text || ' extraword' AS text,
         |         4 AS batch
         |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 1000
         |  UNION ALL
         |  SELECT doc_id + 40000000 AS doc_id, text || ' extraword' AS text,
         |         4 AS batch
         |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 1000),
         |news AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2
         |         UNION ALL SELECT * FROM b3 UNION ALL SELECT * FROM b4),
         |olds AS (SELECT * FROM c0 UNION ALL SELECT * FROM b1
         |         UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3),
         |shn AS (SELECT doc_id, batch, ${shingleSql("toks")} AS sh FROM (
         |  SELECT doc_id, batch,
         |         string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM news)),
         |sho AS (SELECT doc_id, batch, ${shingleSql("toks")} AS sh FROM (
         |  SELECT doc_id, batch,
         |         string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM olds)),
         |pairs AS (
         |  SELECT n.doc_id AS new_id, o.doc_id AS corpus_id,
         |       CASE WHEN len(list_distinct(list_concat(n.sh, o.sh))) = 0 THEN 0.0
         |            ELSE CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
         |                 / len(list_distinct(list_concat(n.sh, o.sh))) END AS jaccard
         |  FROM shn n JOIN sho o ON o.batch < n.batch
         |  WHERE o.doc_id NOT IN (
         |    SELECT n2.doc_id FROM news n2 WHERE n2.batch = n.batch)
         |  -- cross half of the orientation guard: a COMMITTED new_id is
         |  -- re-delivered state whose edges were all recorded at first
         |  -- arrival — re-emitting could land an intra-recorded edge in the
         |  -- reversed orientation (r11 fix)
         |  AND n.doc_id NOT IN (
         |    SELECT o4.doc_id FROM olds o4 WHERE o4.batch < n.batch)
         |  UNION ALL
         |  -- intra-batch pairs, EXCLUDING pairs whose endpoints are both
         |  -- already committed (edge necessarily recorded when the newer
         |  -- endpoint first arrived — the operator's orientation guard)
         |  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
         |       CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
         |            ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |                 / len(list_distinct(list_concat(a.sh, b.sh))) END AS jaccard
         |  FROM shn a JOIN shn b
         |    ON a.batch = b.batch AND a.doc_id < b.doc_id
         |  WHERE NOT (
         |    a.doc_id IN (SELECT o2.doc_id FROM olds o2 WHERE o2.batch < a.batch)
         |    AND b.doc_id IN (SELECT o3.doc_id FROM olds o3 WHERE o3.batch < b.batch)))
         |SELECT new_id, corpus_id, jaccard FROM pairs WHERE jaccard >= 0.7
         |ORDER BY new_id, corpus_id""".stripMargin,

    // Exact all-pairs n-gram Jaccard over the same bounded sub-corpus the
    // Spark query LSH-buckets: equality therefore certifies FULL LSH recall
    // on every >=-threshold pair. The corpus cap (<= 200 docs at any sf)
    // keeps this O(N^2) oracle from swamping the DuckDB baseline total.
    "dedup_minhash_verified" -> boundedVerifiedPairsSql(minTokens = 0),

    // Incremental dedup ground truth: the exact corpus x batch CROSS join
    // (no self-join, so this oracle is O(|corpus|*|batch|) and cheap) —
    // hash-equality certifies full recall of the band-index join on every
    // >= 0.7 cross pair. The n.doc_id <> c.doc_id predicate and the
    // c.doc_id NOT IN (batch ids) anti-join mirror the operator's
    // re-delivery guard (both halves — doc_ids are non-null so NOT IN is
    // safe); they are vacuous here (the constructed id spaces are disjoint
    // by +1M/+3M offsets) but keep oracle and operator expressing the same
    // query.
    "dedup_incremental" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % 10 = 0 AND doc_id < 1000),
         |inc AS (
         |  SELECT doc_id + 1000000 AS doc_id, text || ' extraword' AS text
         |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 1000
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id, text
         |  FROM documents WHERE doc_id % 10 = 5 AND doc_id < 1000),
         |shc AS (SELECT doc_id, ${shingleSql("toks")} AS sh FROM (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM corpus)),
         |shn AS (SELECT doc_id, ${shingleSql("toks")} AS sh FROM (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM inc))
         |SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
         |       CASE WHEN len(list_distinct(list_concat(n.sh, c.sh))) = 0 THEN 0.0
         |            ELSE CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
         |                 / len(list_distinct(list_concat(n.sh, c.sh))) END AS jaccard
         |FROM shn n CROSS JOIN shc c
         |WHERE n.doc_id <> c.doc_id
         |  AND c.doc_id NOT IN (SELECT doc_id FROM inc)
         |  AND CASE WHEN len(list_distinct(list_concat(n.sh, c.sh))) = 0 THEN 0.0
         |           ELSE CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
         |                / len(list_distinct(list_concat(n.sh, c.sh))) END >= 0.7
         |ORDER BY new_id, corpus_id""".stripMargin,

    // The same ground-truth construction certifies the SimHash chunk-bucket
    // path — over the length-gated corpus (>= 20 tokens): SimHash's recall
    // regime is length-bounded (the tf vote margin is ~sqrt(n_tokens), so on
    // very short docs one edit flips ~a quarter of the sketch bits and no
    // fixed chunk scheme covers it without quadratic buckets — measured: the
    // only sf0.1 misses were planted pairs on 11-18-token docs). Production
    // SimHash dedup applies exactly this precondition; short docs remain
    // covered by the ungated MinHash certificate above.
    "dedup_simhash_verified" -> boundedVerifiedPairsSql(minTokens = 20),

    // Cluster assignment = min-id label per component of the closed chain
    // graph ([[chainClosureSql]]), singletons self-labelled. The chain
    // corpus makes closure non-trivial: on short docs base<->two-token
    // falls under the threshold while both chain links stay above it.
    "dedup_cluster_assign" ->
      s"""$chainClosureSql
         |SELECT c.doc_id,
         |       least(coalesce(l.mr, c.doc_id), c.doc_id) AS cluster_id,
         |       least(coalesce(l.mr, c.doc_id), c.doc_id) = c.doc_id AS is_keeper
         |FROM corpus c LEFT JOIN lbl l ON c.doc_id = l.id
         |ORDER BY c.doc_id""".stripMargin,

    // Keep-best policy over the same closed clusters: keeper = arg-max by
    // (whitespace token count DESC, doc_id ASC). Deliberately a DIFFERENT
    // formulation than the engine's (window row_number here vs the
    // skew-proof composite-max aggregate there) — hash-equality certifies
    // the policy, not a shared code path. Score replay = the tokenCount
    // contract: split on \s+ of the trimmed lowered text, blank/null → 0.
    "dedup_keep_best" ->
      s"""$chainClosureSql,
         |clustered AS (
         |  SELECT c.doc_id,
         |         least(coalesce(l.mr, c.doc_id), c.doc_id) AS cluster_id,
         |         CAST(CASE WHEN c.text IS NULL OR trim(c.text) = '' THEN 0
         |              ELSE len(string_split_regex(trim(lower(c.text)), '\\s+'))
         |              END AS BIGINT) AS score
         |  FROM corpus c LEFT JOIN lbl l ON c.doc_id = l.id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY cluster_id
         |                               ORDER BY score DESC, doc_id ASC) AS rn
         |  FROM clustered),
         |members AS (SELECT cluster_id, count(*) AS n_members
         |            FROM clustered GROUP BY cluster_id)
         |SELECT m.cluster_id, m.n_members,
         |       r.doc_id AS keeper_id, r.score AS keeper_score
         |FROM members m JOIN ranked r ON m.cluster_id = r.cluster_id AND r.rn = 1
         |ORDER BY m.cluster_id""".stripMargin,

    "dedup_embedding_cosine" ->
      s"""$perturbedEmbeddingsSql
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,

    // The 10× embedding path, oracle-certified by deterministic subsample
    // (r11): DuckDB rebuilds the 10× replication — md5("k_i") first-hex-
    // digit parity sign flips, bit-identical to the Spark construction —
    // restricts to the bounded planted-pair-closed subset (base id ≡ 0
    // mod 10, < 1000), and runs the EXACT all-pairs ≥ 0.99 join. The 0.99
    // decision has ~0.49 of margin (planted ≈ 0.999999, natural max
    // ≈ 0.51), so list_cosine_similarity's op order is irrelevant.
    "dedup_embedding_cosine_10x_verified" ->
      s"""$perturbedEmbeddingsSql,
        |rep AS (SELECT c.vec_id + k.k * 100000000 AS vec_id,
        |               list_transform(range(len(c.v)),
        |                 i -> CASE WHEN (strpos('0123456789abcdef',
        |                        substring(md5(k.k::VARCHAR || '_' || i::VARCHAR), 1, 1)) - 1) % 2 = 0
        |                      THEN c.v[i+1] ELSE -c.v[i+1] END) AS v
        |        FROM corpus c CROSS JOIN (SELECT unnest(range(10)) AS k) k),
        |sub AS (SELECT * FROM rep
        |        WHERE (vec_id % 100000000) % 1000000 % 10 = 0
        |          AND (vec_id % 100000000) % 1000000 < 1000)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM sub a JOIN sub b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,

    "j_asof_join" ->
      """WITH o AS (SELECT o_custkey AS user_id, o_orderdate,
        |                  max(o_orderkey) AS last_order_key
        |           FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o.last_order_key
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "t_language_id" ->
      s"""WITH tk AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
         |s AS (SELECT
         |  len(list_filter(t, x -> list_contains(${markers("en")}, x))) AS en,
         |  len(list_filter(t, x -> list_contains(${markers("es")}, x))) AS es,
         |  len(list_filter(t, x -> list_contains(${markers("fr")}, x))) AS fr,
         |  len(list_filter(t, x -> list_contains(${markers("de")}, x))) AS de,
         |  len(list_filter(t, x -> list_contains(${markers("zh")}, x))) AS zh
         |FROM tk)
         |SELECT lang_id, count(*) AS n FROM (
         |  SELECT CASE WHEN greatest(en, es, fr, de, zh) = 0 THEN 'und'
         |              -- tie-break = first language in sorted code order, same
         |              -- as LanguageIdExpr's strict argmax over (de,en,es,fr,zh)
         |              WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
         |              WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
         |              WHEN es >= fr AND es >= zh THEN 'es'
         |              WHEN fr >= zh THEN 'fr'
         |              ELSE 'zh' END AS lang_id
         |  FROM s)
         |GROUP BY lang_id ORDER BY lang_id""".stripMargin,

    // Fixture ground truth for the multimodal decode pipeline: the input is
    // fully deterministic (Multimodal.syntheticMedia(999) headers + the
    // builtin BMP 32x16 / PPM 24x8 / WAV 1600-frame payloads), so the
    // expected aggregate is a constant derivable from the generator
    // parameters: n per type = 333 synthetic (+2 real images, +1 real
    // audio); max_width = 64 + max(37i mod 1920) over the type's residue
    // class; audio max_frames = the WAV's 1600 sample frames; video
    // max_frames = 1 + max(i mod 240) = 240. A decode regression (header
    // parse, chunk walk, mapPartitions plumbing) changes these values.
    "mm_decode_featurize" ->
      """SELECT media_type, CAST(n AS BIGINT) AS n,
        |       CAST(max_width AS INTEGER) AS max_width,
        |       CAST(max_frames AS INTEGER) AS max_frames
        |FROM (VALUES ('audio', 334, 1982, 1600),
        |             ('image', 335, 1978, 1),
        |             ('video', 333, 1983, 240))
        |  AS t(media_type, n, max_width, max_frames)
        |ORDER BY media_type""".stripMargin,

    // Formula ground truth for the ImageIO (PNG/JPEG/GIF) decode pipeline:
    // every good payload is generated from a pixel formula (PNG/GIF:
    // r=(7x+3y)%256 RGB / 16-level gray), so the expected facts are
    // computable WITHOUT any codec: per-channel first-frame pixel sums for
    // the lossless formats, geometry-only for JPEG (sums NULL — lossy),
    // frames=3 for the animated GIF, and all-zero ok=false rows for the
    // three undecodable payloads. A codec regression (wrong frame, palette
    // drift, non-fail-soft corrupt handling) flips the hash.
    "mm_decode_imageio" ->
      """SELECT CAST(media_id AS BIGINT) AS media_id, ok,
        |       CAST(width AS INTEGER) AS width,
        |       CAST(height AS INTEGER) AS height,
        |       CAST(n_frames AS INTEGER) AS n_frames,
        |       CAST(channels AS INTEGER) AS channels,
        |       CAST(sum_r AS BIGINT) AS sum_r,
        |       CAST(sum_g AS BIGINT) AS sum_g,
        |       CAST(sum_b AS BIGINT) AS sum_b
        |FROM (VALUES
        |  (900101, true,  40, 20, 1, 3, 95904, 104512, 102112),
        |  (900102, true,  32, 16, 1, 3, NULL,  NULL,   NULL),
        |  (900103, true,  24, 10, 1, 3, 30736, 30736,  30736),
        |  (900104, true,  20,  8, 3, 3, 20400, 20400,  20400),
        |  (900105, false,  0,  0, 0, 0, NULL,  NULL,   NULL),
        |  (900106, false,  0,  0, 0, 0, NULL,  NULL,   NULL),
        |  (900107, false,  0,  0, 0, 0, NULL,  NULL,   NULL))
        |  AS t(media_id, ok, width, height, n_frames, channels,
        |       sum_r, sum_g, sum_b)
        |ORDER BY media_id""".stripMargin,

    // aHash ground truth, derived BY HAND from the block patterns (16×16
    // gray BMPs, 8×8 grid → 2×2 cells, bit (cy·8+cx) = cell mean > global
    // mean): halfLR → every byte 0xF0; the 1-px edit doesn't flip its
    // cell; halfTB → high 4 bytes 0xFF; const → 0; checker → 0xAA/0x55
    // alternating bytes; the 1-cell flip sets exactly bit 0. JPEG and
    // garbage decline (NULL). Independent of the implementation — a
    // decode/threshold/bit-order regression flips the hash.
    "mm_phash" ->
      """SELECT media_id, CAST(ahash AS BIGINT) AS ahash
        |FROM (VALUES (900201, -1085102592571150096),
        |             (900202, -1085102592571150096),
        |             (900203, -4294967296),
        |             (900204, 0),
        |             (900205, NULL),
        |             (900206, NULL),
        |             (900207, 6172840429334713770),
        |             (900208, 6172840429334713771))
        |  AS t(media_id, ahash)
        |ORDER BY media_id""".stripMargin,

    // the pairs those hashes IMPLY at maxHamming 3: the 1-px edit at
    // distance 0, the 1-cell flip at distance 1; every other pair is ≥ 32
    // bits apart (hand-computable xors of the values above)
    "mm_phash_pairs" ->
      """SELECT media_id AS id_a, id_b, hamming
        |FROM (VALUES (900201, 900202, 0), (900207, 900208, 1))
        |  AS t(media_id, id_b, hamming)
        |ORDER BY id_a, id_b""".stripMargin,

    // incremental probe ground truth (hand-derived like mm_phash): the
    // 1-px half-split edit hits both half-split corpus hashes at 0, the
    // 1-cell checker flip hits the checker pair at 1 and 0, the quarter
    // pattern is >= 16 bits from everything, and the replayed corpus id
    // 900203 is excluded entirely by the at-least-once guard
    "mm_phash_incremental" ->
      """SELECT media_id AS new_id, corpus_id, hamming
        |FROM (VALUES (900210, 900201, 0), (900210, 900202, 0),
        |             (900211, 900207, 1), (900211, 900208, 0))
        |  AS t(media_id, corpus_id, hamming)
        |ORDER BY new_id, corpus_id""".stripMargin,

    // audio energy-envelope ground truth, derived BY HAND from the
    // constructed signals (1024 mono 16-bit samples → 64 segments of 16;
    // bit k = segment mean |amp| > global mean |amp|): quiet/loud halves →
    // high 4 bytes 0xFF; the 1-sample edit doesn't flip its segment;
    // alternating segments → 0xAA bytes; the 1-segment flip sets exactly
    // bit 0. Stereo and garbage decline (NULL).
    "mm_audio_hash" ->
      """SELECT media_id, CAST(ahash AS BIGINT) AS ahash
        |FROM (VALUES (900301, -4294967296),
        |             (900302, -4294967296),
        |             (900303, -6148914691236517206),
        |             (900304, -6148914691236517205),
        |             (900305, NULL),
        |             (900306, NULL))
        |  AS t(media_id, ahash)
        |ORDER BY media_id""".stripMargin,

    "mm_audio_pairs" ->
      """SELECT media_id AS id_a, id_b, hamming
        |FROM (VALUES (900301, 900302, 0), (900303, 900304, 1))
        |  AS t(media_id, id_b, hamming)
        |ORDER BY id_a, id_b""".stripMargin,

    // Replays FilterCascade.gopherRecipe: every metric (token count,
    // stopword ratio, dup-2-gram fraction, marker-vote language) plus the
    // ordered CASE chain with the operator's threshold constants.
    "t_filter_cascade" ->
      s"""WITH tk AS (SELECT doc_id,
         |              string_split_regex(trim(lower(text)), '\\s+') AS toks,
         |              CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         |                   ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
         |              END AS n_tokens
         |            FROM documents),
         |${cascadeMetricsSql("n_tokens")},
         |dec AS (SELECT doc_id, n_tokens,
         |          CASE WHEN n_tokens < 15 THEN 'too_short'
         |               WHEN n_tokens > 100000 THEN 'too_long'
         |               WHEN stopword_ratio < 0.01 THEN 'low_stopword'
         |               WHEN dup_frac > 0.2 THEN 'repetitive'
         |               WHEN lang <> 'en' THEN 'wrong_language'
         |               ELSE NULL END AS drop_reason
         |        FROM m2)
         |SELECT doc_id, n_tokens, drop_reason IS NULL AS kept, drop_reason
         |FROM dec ORDER BY doc_id""".stripMargin,

    // Replays tUnicodeNormalize: the same dirty suffix (shared constant,
    // embedded as real characters) + the generated normalization chain.
    "t_unicode_normalize" ->
      s"""WITH d AS (SELECT doc_id,
         |  text || ${sq(LlmOpQueries.dirtySuffix)} AS dirty FROM documents),
         |c AS (SELECT doc_id, dirty,
         |  ${textNormalizeSql("dirty")} AS clean_text FROM d)
         |SELECT doc_id, clean_text, length(dirty) AS n_chars_dirty,
         |       length(clean_text) AS n_chars_clean
         |FROM c ORDER BY doc_id""".stripMargin,

    // sJsonlRoundtrip's contract is IDENTITY: the oracle is the projected
    // base table itself, so a hash-match proves the serialize→parse cycle
    // is lossless for this schema.
    "s_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Replays tHtmlExtract: identical page construction around each
    // document, then the HtmlExtract chain (blocks → tags → entities →
    // whitespace) rendered from the operator's own pattern Seqs.
    "t_html_extract" ->
      s"""WITH h AS (SELECT doc_id,
         |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
         |  '</title><style>body { color: #333; }</style></head>' ||
         |  '<body><!-- generated --><h1>Title &amp; Header</h1><p class="main">' ||
         |  text ||
         |  '</p><script type="text/javascript">var n = 1 < 2; ' ||
         |  'log(''<p>not text</p>'')</script>' ||
         |  '<p>Tom &amp; Jerry say &quot;hi&quot;&nbsp;&#39;now&#39;</p>' ||
         |  '</body></html>' AS html FROM documents),
         |c AS (SELECT doc_id, html, ${htmlStripSql("html")} AS clean_text FROM h)
         |SELECT doc_id, clean_text, length(html) AS n_chars_html,
         |       length(clean_text) AS n_chars_clean
         |FROM c ORDER BY doc_id""".stripMargin,

    // Replays tChunkWindows: the start sequence (1, 1+24, …, up to
    // max(len-32,0)+24 inclusive — range() is end-exclusive, hence +1),
    // clamped list slices, and the trailing-partial token count.
    "t_chunk_windows" ->
      s"""WITH tk AS (SELECT doc_id,
         |              string_split_regex(trim(lower(text)), '\\s+') AS toks
         |            FROM documents
         |            WHERE text IS NOT NULL AND trim(text) <> ''),
         |s AS (SELECT doc_id, toks,
         |        unnest(range(1, greatest(len(toks) - 32, 0) + 24 + 1, 24)) AS st
         |      FROM tk)
         |SELECT doc_id, (st - 1) // 24 + 1 AS chunk_idx,
         |       array_to_string(toks[st : st + 31], ' ') AS chunk_text,
         |       least(32, len(toks) - st + 1) AS n_tokens
         |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,

    // Replays tCurationPipeline: the four stages composed in one WITH-chain
    // — the cascade CTEs (same expressions as t_filter_cascade), the LM
    // CTEs over the cascade survivors (train = all survivors, same
    // smoothing as t_lm_perplexity), exact dedup (keep lowest id per
    // md5(text)), and the shard/pos digit arithmetic of
    // samp_shuffle_shards with seed 'cur1'.
    "t_curation_pipeline" ->
      s"""WITH tk AS (SELECT doc_id,
         |              string_split_regex(trim(lower(text)), '\\s+') AS toks
         |            FROM documents),
         |${cascadeMetricsSql("len(toks) AS n_tokens")},
         |k1 AS (SELECT d.doc_id, d.text
         |       FROM documents d JOIN m2 ON d.doc_id = m2.doc_id
         |       WHERE NOT (m2.n_tokens < 15 OR m2.n_tokens > 100000
         |              OR m2.stopword_ratio < 0.01 OR m2.dup_frac > 0.2
         |              OR m2.lang <> 'en')),
         |tk1 AS (SELECT doc_id,
         |          string_split_regex(trim(lower(text)), '\\s+') AS toks
         |        FROM k1),
         |bge AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM
         |          (SELECT doc_id,
         |             unnest([{'w1': toks[i], 'w2': toks[i+1]}
         |                     FOR i IN range(1, len(toks))]) AS bg
         |           FROM tk1)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bge GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bge GROUP BY 1),
         |v AS (SELECT count(DISTINCT t) AS v FROM
         |        (SELECT unnest(toks) AS t FROM tk1)),
         |agg AS (SELECT b.doc_id, round(avg(
         |          -ln((coalesce(c12.c12, 0) + 0.5) /
         |              (coalesce(c1.c1, 0) + 0.5 * v.v))), 6) AS nll
         |        FROM bge b LEFT JOIN c12 USING (w1, w2)
         |        LEFT JOIN c1 USING (w1) CROSS JOIN v GROUP BY 1),
         |k2 AS (SELECT k1.doc_id, k1.text
         |       FROM k1 JOIN agg ON k1.doc_id = agg.doc_id
         |       WHERE agg.nll <= 3.40),
         |dd AS (SELECT doc_id FROM
         |         (SELECT doc_id, row_number() OVER
         |            (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |          FROM k2)
         |       WHERE rn = 1),
         |keyed AS (SELECT doc_id,
         |            md5('cur1:' || CAST(doc_id AS VARCHAR)) AS k
         |          FROM dd),
         |sharded AS (SELECT doc_id, k,
         |  ${md5ShardSql(8, indent = 7)}
         |    AS shard
         |  FROM keyed)
         |SELECT doc_id, shard,
         |       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
         |            AS BIGINT) AS pos
         |FROM sharded ORDER BY shard, pos""".stripMargin,

    // Replays LmScore.perplexityFilter end-to-end: bigram + prefix counts
    // over the lang='en' slice, vocabulary size, add-0.5 smoothing, mean NLL
    // per doc, and the keep decision at 3.40. round(.,6) absorbs the
    // last-ulp ln() and summation-order differences between engines; every
    // meaningful digit of the score is still certified.
    "t_lm_perplexity" ->
      s"""${lmPerDocSql("SELECT doc_id, lang, text FROM documents")}
         |SELECT tk.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams, agg.nll,
         |       coalesce(agg.nll <= 3.40, false) AS kept
         |FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
         |ORDER BY tk.doc_id""".stripMargin,

    // DSIR importance resampling: TWO model chains (target = lang 'en',
    // raw = whole corpus) over ONE shared bigram explode; per-doc weight =
    // nll_raw − nll_target on the already-rounded means (exact double
    // subtraction, identical across engines), selection at τ = 0.
    "t_dsir_select" ->
      s"""WITH corpus AS (SELECT doc_id, lang, text FROM documents),
         |${lmTokenChainSql()},
         |${lmModelChainSql("_t", "lang = 'en'")},
         |${lmModelChainSql("_r", "TRUE")}
         |SELECT tk.doc_id, coalesce(t.n_bigrams, 0) AS n_bigrams,
         |       t.nll AS nll_target, r.nll AS nll_raw,
         |       r.nll - t.nll AS w,
         |       coalesce(r.nll - t.nll >= 0.0, false) AS selected
         |FROM tk LEFT JOIN agg_t t ON tk.doc_id = t.doc_id
         |        LEFT JOIN agg_r r ON tk.doc_id = r.doc_id
         |ORDER BY tk.doc_id""".stripMargin,

    // 10× scaling twin: the same LM chain over the replicated corpus (the
    // replicas are vocabulary-disjoint, so the one model table is
    // effectively 10 disjoint models — which the SQL replay handles
    // naturally). Certifies the scaled output, including the structural
    // uniformity self-check, not just its timing.
    "t_lm_perplexity_10x" ->
      s"""${lmPerDocSql(docs10xSql)}
         |SELECT count(*) AS n_docs,
         |       CAST(sum(CASE WHEN coalesce(agg.nll <= 3.40, false)
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN coalesce(agg.nll <= 3.40, false)
         |                     THEN 1 ELSE 0 END) AS BIGINT) % 10 = 0 AS kept_uniform
         |FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id""".stripMargin,

    // Full-corpus MinHash-LSH count rows: the Spark queries run the
    // engine-portable (md5-keyed) hashing mode, so these replay the entire
    // banded pipeline rather than an O(N²) all-pairs join (which is what
    // kept them rows-only through round 4).
    "dedup_minhash_pairs" -> minhashPortableSql(nearDupCorpusSql),
    "dedup_minhash_pairs_10x" -> minhashPortableSql(nearDupCorpus10xSql),
    "dedup_simhash_pairs" -> simhashPortableSql(nearDupCorpusSql),

    "t_fingerprint" ->
      s"""WITH tk AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
         |fp AS (SELECT list_min(${shingleSql("toks")}) AS fp FROM tk)
         |SELECT count(*) AS n_docs, count(DISTINCT fp) AS n_distinct_fps FROM fp""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |tk AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS ta,
         |              string_split_regex(trim(lower(text || ' extraword')), '\\s+') AS tb
         |       FROM d),
         |sh AS (SELECT ${shingleSql("ta")} AS sa, ${shingleSql("tb")} AS sb FROM tk),
         |j AS (SELECT CASE WHEN len(list_distinct(list_concat(sa, sb))) = 0 THEN 0.0
         |                  ELSE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
         |                       / len(list_distinct(list_concat(sa, sb))) END AS jaccard
         |      FROM sh)
         |SELECT count(*) AS n_pairs, min(jaccard) AS min_jaccard,
         |       CAST(sum(CASE WHEN jaccard > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_half
         |FROM j""".stripMargin,
    "s4_scan_count" ->
      "SELECT count(*) AS n_rows FROM lineitem",

    // S5 glob listing: the stable projection of the committed corpus's
    // file inventory — identical at every scale factor, so the oracle is
    // the ground truth as a literal VALUES table (the mm fixture
    // convention); a missing/renamed/empty parquet flips the hash.
    "s5_glob_listing" ->
      """SELECT * FROM (VALUES
        |  ('customer.parquet', true), ('documents.parquet', true),
        |  ('embeddings.parquet', true), ('events.parquet', true),
        |  ('lineitem.parquet', true), ('nation.parquet', true),
        |  ('orders.parquet', true), ('part.parquet', true),
        |  ('region.parquet', true), ('supplier.parquet', true)
        |) AS t(name, non_empty) ORDER BY name""".stripMargin,

    "s6_ctas_projection" ->
      "SELECT *, 'batch-1' AS load_tag FROM region ORDER BY r_regionkey",

    "s7_anti_join_dedup" ->
      """SELECT count(*) AS n_new FROM events
        |WHERE event_id NOT IN (SELECT event_id FROM events WHERE event_id % 3 = 0)""".stripMargin,

    "s2_json_decode" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    // Variant-path twin of s2: same extraction semantics, so the same
    // relational replay certifies the variant decode path.
    "s2_variant_decode" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "p1_cast_trim" ->
      """SELECT event_id, trim(CAST(event_type AS VARCHAR)) AS status,
        |       CAST(value AS FLOAT) AS value_f
        |FROM events ORDER BY event_id""".stripMargin,

    "p2_null_empty_filter" ->
      "SELECT doc_id FROM documents WHERE text IS NOT NULL AND trim(text) <> '' ORDER BY doc_id",

    "p3_conjunctive_filter" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_quantity > 0 AND l_discount BETWEEN 0 AND 0.08
        |  AND l_shipdate >= TIMESTAMP '1994-01-01'
        |  AND l_returnflag IS NOT NULL AND l_returnflag <> '' AND l_tax IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p4_flag_projection" ->
      """SELECT event_id,
        |       (value IS NULL OR value <= 1.0) AS is_low_value,
        |       (event_type = 'error') AS is_error,
        |       (props IS NULL OR props = '') AS is_missing_props
        |FROM events
        |WHERE (value IS NULL OR value <= 1.0) OR event_type = 'error'
        |   OR (props IS NULL OR props = '')
        |ORDER BY event_id""".stripMargin,

    "p6_case_label" ->
      """SELECT CASE WHEN l_quantity <= 2 THEN 'TINY'
        |            WHEN l_discount > 0.08 THEN 'DISCOUNTED'
        |            WHEN l_tax > 0.06 THEN 'TAXED'
        |            ELSE 'NORMAL' END AS label,
        |       count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY label""".stripMargin,

    "p8_range_predicate" ->
      """SELECT count(*) AS n, min(l_extendedprice) AS min_price,
        |       max(l_extendedprice) AS max_price
        |FROM lineitem
        |WHERE l_extendedprice > 0 AND l_extendedprice <= 2000
        |  AND l_quantity BETWEEN 1 AND 10""".stripMargin,

    "p9_set_membership" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE event_type IN ('click','view','purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "p10_try_cast" ->
      """SELECT doc_id, TRY_CAST(substr(source, 4, 10) AS INTEGER) AS src_num,
        |       TRY_CAST(lang AS DOUBLE) AS lang_num
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p11_inequality_filter" ->
      """SELECT n.n_name, r.r_name AS region_name
        |FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name <> 'ASIA' ORDER BY n.n_name""".stripMargin,

    "j1_left_join_agg" ->
      """SELECT c.c_mktsegment AS segment, count(*) AS n_orders,
        |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY segment NULLS FIRST""".stripMargin,

    "j2_role_playing_join" ->
      """SELECT n1.n_name AS nation, count(*) AS n_lineitems
        |FROM lineitem l
        |JOIN orders o   ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        |WHERE n1.n_name = n2.n_name
        |GROUP BY 1 ORDER BY nation""".stripMargin,

    "j7_agg_agg_join" ->
      """WITH err AS (
        |  SELECT CAST(ts AS DATE) AS event_date, count(*) AS error_count
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |tot AS (
        |  SELECT CAST(ts AS DATE) AS event_date, count(*) AS total_events
        |  FROM events GROUP BY 1)
        |SELECT strftime(e.event_date, '%Y-%m-%d') AS event_date,
        |       e.error_count, t.total_events,
        |       e.error_count * 100.0 / t.total_events AS error_pct
        |FROM err e LEFT JOIN tot t ON e.event_date = t.event_date
        |ORDER BY event_date""".stripMargin,

    "j_semi_join" ->
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "a1_group_multi_agg" ->
      """SELECT l_orderkey, count(*) AS n_lines,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "a2_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "u1_union_dedup" ->
      """SELECT name, min(acctbal) AS min_acctbal, count(*) AS n
        |FROM (SELECT c_name AS name, c_acctbal AS acctbal FROM customer
        |      UNION ALL
        |      SELECT s_name AS name, s_acctbal AS acctbal FROM supplier)
        |GROUP BY name ORDER BY name""".stripMargin,

    "a4_daily_count" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
        |       count(event_id) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin,

    "a5_two_key_count" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date, event_type,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_date, event_type""".stripMargin,

    "a6_conditional_agg" ->
      """SELECT user_id, count(*) AS total_events,
        |       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        |       ROUND(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) * 100.0
        |             / NULLIF(count(*), 0), 2) AS ok_rate
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "a7_avg" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a8_count_distinct" ->
      """SELECT count(DISTINCT user_id) AS n_users,
        |       count(DISTINCT event_type) AS n_types FROM events""".stripMargin,

    // HLL sketch rollup: exact per-day distincts; the hourly-sketch union
    // estimate's 5% verdict is expected true (register-max union is
    // order-insensitive → deterministic).
    "a8_hll_union_rollup" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
        |       count(DISTINCT user_id) AS n_exact, true AS within_bound
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin,

    // The HLL estimate is engine-specific; what IS cross-engine checkable is
    // the exact count plus the error-bound verdict the Spark side computes
    // (|approx-exact|/exact <= 8% ~ 4 sigma at rsd 0.02; widened from 5%
    // per r7 verdict item 6 so the hard-coded `true` survives testdata
    // regeneration) — an estimator regression still flips the hash compare.
    "a8_approx_count_distinct" ->
      """SELECT count(DISTINCT user_id) AS exact_users,
        |       TRUE AS within_bound FROM events""".stripMargin,

    "a9_global_scalars" ->
      """SELECT count(*) AS n, max(o_orderdate) AS latest_order,
        |       min(o_orderdate) AS first_order FROM orders""".stripMargin,

    "a10_filtered_counts" ->
      """SELECT CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
        |       CAST(SUM(CASE WHEN l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS high_discount,
        |       CAST(SUM(CASE WHEN l_extendedprice > 50000 THEN 1 ELSE 0 END) AS BIGINT) AS high_price,
        |       CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS bad_flag
        |FROM lineitem""".stripMargin,

    "a11_having_duplicates" ->
      """SELECT count(*) AS heavy_users FROM (
        |  SELECT user_id FROM events GROUP BY user_id HAVING count(*) > 20)""".stripMargin,

    "a12_minute_buckets" ->
      """SELECT strftime(CAST(date_trunc('minute', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M') AS minute,
        |       count(*) AS n
        |FROM events GROUP BY 1 ORDER BY minute DESC LIMIT 60""".stripMargin,

    "o3_top_k" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    // Replays oZorderKey: 16-bit grid cells (same clamp/scale double
    // arithmetic and bounds) + the Morton interleave generated from the
    // same bit positions as the Spark expression tree.
    "o_zorder_key" ->
      s"""WITH c AS (SELECT event_id,
         |  ${scale16Sql("user_id", 0.0, 2048.0)} AS cell_user,
         |  ${scale16Sql("value", 0.0, 1000.0)} AS cell_value
         |FROM events)
         |SELECT event_id, cell_user, cell_value,
         |  ${mortonSql("cell_user", "cell_value")} AS z
         |FROM c ORDER BY event_id""".stripMargin,

    "f_md5_surrogate_key" ->
      """SELECT o_orderkey,
        |       md5(coalesce(CAST(o_orderstatus AS VARCHAR), '_dbt_utils_surrogate_key_null_')) AS status_sk,
        |       md5(coalesce(CAST(o_orderkey AS VARCHAR), '_dbt_utils_surrogate_key_null_')
        |           || '-' ||
        |           coalesce(CAST(o_orderpriority AS VARCHAR), '_dbt_utils_surrogate_key_null_')) AS order_sk
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f_datetime_extract" ->
      """SELECT strftime(d, '%Y-%m-%d') AS d,
        |       EXTRACT(year FROM d) AS year, EXTRACT(month FROM d) AS month,
        |       EXTRACT(day FROM d) AS day, EXTRACT(dow FROM d) AS day_of_week
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
        |ORDER BY d""".stripMargin,

    "f_string_compare" ->
      """SELECT doc_id, (lang >= 'es') AS lang_ge_es,
        |       (source < 'src2') AS source_lt_src2
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f_null_functions" ->
      """SELECT event_id, coalesce(props, '{}') AS props_c,
        |       nullif(event_type, 'view') AS type_or_null
        |FROM events ORDER BY event_id""".stripMargin,

    "a_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "a_pivot" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
        |       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "u_intersect_except" ->
      """SELECT user_id, 'purchase_and_click' AS set_op FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
        |UNION ALL
        |SELECT user_id, 'click_never_purchase' AS set_op FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |ORDER BY set_op, user_id""".stripMargin,

    "a_grouping_sets" ->
      """SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
        |       l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "w_fill_forward" ->
      """SELECT user_id, event_id,
        |       last_value(props IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS props_filled
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "w_range_frame" ->
      """SELECT user_id, event_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(ts)
        |         RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS trailing_10min_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "w_ntile" ->
      """SELECT user_id, event_id,
        |       ntile(4) OVER w AS quartile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "w_row_number_latest" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "w_running_sum" ->
      """SELECT user_id, event_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |         PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        |       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS event_idx
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "w_lag_rank" ->
      """SELECT user_id, event_id,
        |       lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type,
        |       lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type,
        |       dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS type_rank
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "t_token_count" ->
      """SELECT doc_id,
        |       CASE WHEN trim(text) = '' OR text IS NULL THEN 0
        |            ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS n_tokens,
        |       COALESCE(len(regexp_extract_all(text, '[\w]+|[^\w\s]')), 0) AS n_bpe_ish,
        |       n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // stopwords interpolated from TextAnalysis.stopwords via `stopwordsList`
    // (r12 review: an inline copy of the 18 words only happened to match —
    // an engine-side list edit would have flipped this hash with a
    // confusing diff; t_filter_cascade already followed the convention)
    "t_quality_score" ->
      s"""SELECT doc_id,
        |       CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |            ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
        |       END AS n_tokens,
        |       len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        |           x -> list_contains(${stopwordsList}, x))) AS n_stopwords,
        |       CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        |           x -> list_contains(${stopwordsList}, x))) AS DOUBLE)
        |         / len(string_split_regex(trim(lower(text)), '\\s+')) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_url_canonicalize" ->
      s"""WITH urls AS ($urlFixtureSql),
         |$urlCanonicalChainSql
         |SELECT doc_id, url, canonical_url
         |FROM canon ORDER BY doc_id""".stripMargin,

    "dedup_url" ->
      s"""WITH urls AS ($urlFixtureSql),
         |$urlCanonicalChainSql
         |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_copies,
         |       min(doc_id) AS keeper_id
         |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,

    // Replays Mixing.temperatureWeights(alpha = 0.5) bit-for-bit: sqrt is
    // IEEE correctly-rounded in both engines, and the normalizer folds in
    // lang-sorted order (list_reduce's seedless left fold equals Spark's
    // 0.0-seeded aggregate exactly: 0.0 + x == x). WHERE lang IS NOT NULL
    // mirrors the operator's r14 null-group exclusion contract — without it
    // a regenerated corpus with one null-lang doc would add a row AND shift
    // every share through the Z normalizer (latent hash flip, r14 review).
    "samp_temperature_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
        |           WHERE lang IS NOT NULL GROUP BY lang),
        |s0 AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS N FROM c),
        |s1 AS (SELECT s0.N,
        |         list_reduce(
        |           (SELECT list(sqrt(CAST(n_docs AS DOUBLE) / s0.N) ORDER BY lang)
        |            FROM c),
        |           (a, b) -> a + b) AS Z
        |       FROM s0)
        |SELECT c.lang, c.n_docs,
        |       CAST(c.n_docs AS DOUBLE) / s1.N AS share,
        |       sqrt(CAST(c.n_docs AS DOUBLE) / s1.N) / s1.Z AS temp_share,
        |       (sqrt(CAST(c.n_docs AS DOUBLE) / s1.N) / s1.Z)
        |         / (CAST(c.n_docs AS DOUBLE) / s1.N) AS up_weight
        |FROM c CROSS JOIN s1 ORDER BY c.lang""".stripMargin,

    // Replays dedupLinesWithin: the identical planted-footer fixture, then
    // LineDedup.dedupLinesWithinDoc's split → filter(first-index == i) →
    // rejoin array algebra (DuckDB list lambdas are 1-based where Spark's
    // are 0-based, hence `= i` here vs `=== i + 1` there).
    "dedup_lines_within" -> {
      val f = sq(graft.coverage.LlmOpQueries.LineDedupFooter)
      val footerSuffix =
        s"chr(10) || $f || chr(10) || '***' || chr(10) || chr(10) || " +
          s"$f || chr(10) || '***' || chr(10) || $f"
      s"""WITH input AS (
         |  SELECT doc_id, text || $footerSuffix AS text FROM documents),
         |f AS (SELECT doc_id, string_split(text, chr(10)) AS ls,
         |        list_filter(string_split(text, chr(10)),
         |          (x, i) -> length(trim(x)) < 5
         |            OR list_position(string_split(text, chr(10)), x) = i) AS ks
         |      FROM input)
         |SELECT doc_id, array_to_string(ks, chr(10)) AS text,
         |       len(ls) AS n_lines, len(ks) AS n_lines_kept
         |FROM f ORDER BY doc_id""".stripMargin
    },

    // Replays oCorpusDiff end-to-end: the identical two-version fixture
    // construction (add/remove/edit/duplicate legs), then CorpusDiff's
    // count + bit_xor(md5-60) per-key collapse and full-outer classify.
    "o_corpus_diff" -> corpusDiffSql("SELECT doc_id, text FROM documents"),

    // the identical chain over the 10× replicated corpus (ONE parameterized
    // CTE chain — two verbatim copies could drift, the r12 lesson)
    "o_corpus_diff_10x" -> corpusDiffSql(docs10xSql),

    "dedup_exact_clusters" ->
      """SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS keeper_id
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL
        |      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""".stripMargin,

    "dedup_exact_count" ->
      """SELECT count(DISTINCT md5(text)) AS n_after_dedup
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL
        |      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin,

    // Replays the CPU-scaling probe digit-for-digit: md5 of "doc_id:i" per
    // (document, 1..2048), value of the first 4 hex chars via strpos
    // arithmetic (the engine-portable form of Spark's conv), then the
    // one-row checksum. BIGINT casts per the HUGEINT-sum house rule.
    "x_scaling_probe" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_hashes,
        |       CAST(sum(h) AS BIGINT) AS checksum,
        |       CAST(max(h) AS BIGINT) AS max_h
        |FROM (
        |  SELECT CAST((strpos('0123456789abcdef', substring(k,1,1))-1)*4096
        |             +(strpos('0123456789abcdef', substring(k,2,1))-1)*256
        |             +(strpos('0123456789abcdef', substring(k,3,1))-1)*16
        |             +(strpos('0123456789abcdef', substring(k,4,1))-1) AS BIGINT) AS h
        |  FROM (SELECT md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(g.i AS VARCHAR)) AS k
        |        FROM documents d, generate_series(1, 2048) AS g(i)))""".stripMargin
  )
}
