package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis + document-dedup surface over the `documents` table —
  * the LLM-training-data-pipeline operators that go beyond the
  * reference's own inventory (see the build brief): quality scoring,
  * token counting, language-ID, fingerprinting, exact dedup,
  * MinHash+LSH near-dup, and exact n-gram Jaccard verification.
  *
  * Scale design: every operator here is a narrow projection + explode +
  * hash-aggregate — no cross joins, no driver collection. The LSH
  * candidate join is an equi-join on (band_index, band_hash), so at
  * 100 TB it shuffles only the tiny signature table (one row per doc),
  * never the corpus, and candidate volume is bounded by the band
  * collision rate rather than n².
  *
  * Engine-neutral hashing: md5 hex (lowercase in both Spark and DuckDB)
  * ordered as strings, so min() minhash components agree bit-for-bit
  * with the oracle without sharing any RNG.
  */

/** The t19b oracle CTE chain — a full SQL replay of BpeTrainer.fit's
  * two merge iterations over the documents word-frequency table
  * (bracketed char encoding, pair counts, top-merge pick with the
  * (count desc, pair asc) tiebreak, left-to-right whole-symbol-anchored
  * replace). Shared by t19b (recounted pair table) and t19c (corpus
  * tokenization with the trained merges) so the replay exists once.
  */
private[queries] object BpeSql {
  val UpToE2: String = """
        w AS (
          SELECT tok AS w, count(*) AS wc
          FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          WHERE length(tok) >= 2
          GROUP BY 1),
        e0 AS (
          SELECT w, wc,
                 array_to_string(list_transform(regexp_extract_all(w, '.'),
                                 c -> chr(1) || c || chr(2)), '') AS enc
          FROM w),
        p1 AS (
          SELECT pair, sum(wc) AS cnt FROM (
            SELECT wc, unnest(list_transform(range(len(syms) - 1),
                              i -> syms[i + 1] || ' ' || syms[i + 2])) AS pair
            FROM (SELECT wc, string_split(substr(enc, 2, length(enc) - 2),
                                          chr(2) || chr(1)) AS syms FROM e0))
          GROUP BY 1),
        m1 AS (SELECT split_part(pair, ' ', 1) AS x, split_part(pair, ' ', 2) AS y
               FROM p1 ORDER BY cnt DESC, pair ASC LIMIT 1),
        e1 AS (
          SELECT w, wc,
                 replace(enc, chr(1) || m1.x || chr(2) || chr(1) || m1.y || chr(2),
                         chr(1) || m1.x || m1.y || chr(2)) AS enc
          FROM e0, m1),
        p2 AS (
          SELECT pair, sum(wc) AS cnt FROM (
            SELECT wc, unnest(list_transform(range(len(syms) - 1),
                              i -> syms[i + 1] || ' ' || syms[i + 2])) AS pair
            FROM (SELECT wc, string_split(substr(enc, 2, length(enc) - 2),
                                          chr(2) || chr(1)) AS syms FROM e1))
          GROUP BY 1),
        m2 AS (SELECT split_part(pair, ' ', 1) AS x, split_part(pair, ' ', 2) AS y
               FROM p2 ORDER BY cnt DESC, pair ASC LIMIT 1),
        e2 AS (
          SELECT w, wc,
                 replace(enc, chr(1) || m2.x || chr(2) || chr(1) || m2.y || chr(2),
                         chr(1) || m2.x || m2.y || chr(2)) AS enc
          FROM e1, m2)"""
}

object TextOps {

  /** t28b's gram-hash frame — (doc_id, is_eval, h): docs split
    * eval/train by the t05 md5 bucket, 8-grams exploded, each gram
    * hashed to its 48-bit md5-prefix long BEFORE any exchange. One
    * copy shared by the t28b gate, the bucketed-layout plan spec
    * (BucketingSpec), and the A/B probe (tools.BucketAb, removed;
    * re-run it from commit c8a8826) so the three claims about the same
    * layout can never drift apart. */
  private[graft] def gramHashes(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 10 === 0).as("is_eval"),
        split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      // native 8-gram + md5 expansion (plans/WordNgrams, r18): the
      // md5 hex lands inside the scan's codegen span; the substring/
      // conv tail below is unchanged builtin codegen
      .select(col("doc_id"), col("is_eval"), explode(
        graft.plans.WordNgrams.ofCol(col("w"), 8, hashMd5 = true)).as("g"))
      .select(col("doc_id"), col("is_eval"),
        conv(substring(col("g"), 1, 12), 16, 10)
          .cast("long").as("h"))


  private val StopWords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Shared by t01 (composed) and t01b (native token_stats). */
  private val QualitySql = s"""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        ta AS (SELECT doc_id, count(*) AS n_tokens,
                      sum(CASE WHEN tok IN (${StopWords.map("'" + _ + "'").mkString(",")}) THEN 1 ELSE 0 END) AS n_stop,
                      round(avg(length(tok)), 4) AS mean_wlen
               FROM tok GROUP BY 1),
        base AS (SELECT d.doc_id, d.lang, d.n_chars,
                        CAST(ta.n_tokens AS BIGINT) AS n_tokens, ta.mean_wlen,
                        round(ta.n_stop * 1.0 / ta.n_tokens, 4) AS stop_ratio,
                        round(length(regexp_replace(d.text, '[^a-z]', '', 'g')) * 1.0 / d.n_chars, 4) AS alpha_ratio
                 FROM documents d JOIN ta ON d.doc_id = ta.doc_id),
        q AS (SELECT *, round(0.4 * least(n_tokens / 100.0, 1.0)
                              + 0.4 * stop_ratio + 0.2 * alpha_ratio, 4) AS quality
              FROM base)
        SELECT *, CASE WHEN quality >= 0.6 THEN 'high'
                       WHEN quality >= 0.4 THEN 'mid' ELSE 'low' END AS grade
        FROM q"""

  /** Shared by d03 (composed) and d03b (native simhash16). */
  private val SimHashSql = {
    val votes = (0 until 16).map(j =>
      s"sum(CASE WHEN substr(md5(tok), ${j + 1}, 1) IN " +
        s"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$j")
      .mkString(", ")
    val fp = (0 until 16)
      .map(j => s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        v AS (SELECT doc_id, $votes FROM tok GROUP BY 1),
        f AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM v)
        SELECT simhash, count(*) AS n_docs, min(doc_id) AS canonical_doc
        FROM f GROUP BY 1"""
  }

  /** Shared by t16 (composed) and t16b (native token_stats+gram_stats)
    * — the twins must hash against the identical oracle. */
  private lazy val QualityGateSql = s"""
        WITH w AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
        m AS (SELECT lang,
                     CAST(len(ws) AS BIGINT) AS toks,
                     CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS chars,
                     CAST(len(list_filter(ws, x -> x IN (${StopWords.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS stops,
                     CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS g_total,
                     CAST(len(list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
                       i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))) AS BIGINT) AS g_dist
              FROM w),
        f AS (SELECT lang,
                     toks < 16 AS f_short,
                     chars * 10 < toks * 42 OR chars * 10 > toks * 50 AS f_wlen,
                     stops * 100 < toks AS f_stop,
                     (g_total - g_dist) * 50 > g_total AS f_rep
              FROM m)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN NOT f_short AND NOT f_wlen AND NOT f_stop
                             AND NOT f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
               CAST(sum(CASE WHEN f_wlen THEN 1 ELSE 0 END) AS BIGINT) AS n_wordlen,
               CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stopword,
               CAST(sum(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        FROM f GROUP BY 1"""

  /** The composed explode-per-kgram fingerprint — the declarative twin
    * of the t04b native expression, DEMOTED from its own hash gate to
    * a spec-level parity oracle (VERDICT r12 #4: it paid a |text|-row
    * explode + shuffle per doc — 5.1 s of bench — for no coverage the
    * native gate doesn't give; KgramFingerprintSpec pins row-for-row
    * equality on real documents, the d03/d03b convention). */
  private[graft] def fingerprintComposed(s: SparkSession, d: String)
      : DataFrame = {
    val docs = Tables.documents(s, d)
    docs.filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        expr("explode(transform(sequence(1, length(text)-7), " +
          "i -> substring(text, i, 8)))").as("kg"))
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("kg")).as("n_kgrams"),
        min(md5(col("kg"))).as("fp"))
      .withColumn("fp8", substring(col("fp"), 1, 8))
  }

  /** Per-doc DISTINCT word-8-gram md5s — shared by the t10/t10b
    * decontamination twins so both probe the identical gram space. */
  private def word8Grams(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 8)
      // native 8-gram + md5 expansion (plans/WordNgrams, r18): same
      // md5-hex values (both bottom out in commons-codec md5Hex), no
      // per-element transform lambda
      .select(col("doc_id"), explode(array_distinct(
        graft.plans.WordNgrams.ofCol(col("ws"), 8, hashMd5 = true)))
        .as("gh"))

  /** Shared by t10 (raw-set broadcast) and t10b (bloom prefilter + exact
    * verify) — the twins must hash against the identical oracle. */
  private val ContaminationSql = """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        g AS (SELECT doc_id,
                     list_distinct(list_transform(range(len(ws) - 7), i ->
                       md5(ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
                           ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' ||
                           ws[i+7] || ' ' || ws[i+8]))) AS gs
              FROM w WHERE len(ws) >= 8),
        bench AS (SELECT DISTINCT unnest(gs) AS gh FROM g WHERE doc_id % 5 = 0),
        corpus AS (SELECT doc_id, unnest(gs) AS gh FROM g WHERE doc_id % 5 <> 0)
        SELECT c.doc_id, count(*) AS n_shared
        FROM corpus c JOIN bench b USING (gh)
        GROUP BY 1"""

  /** Shared by t17 (composed) and t17b (native token_freqs) — the twins
    * must hash against the identical oracle. Per-token log-probs are
    * quantized to integer micro-nats BEFORE the mean (the t31
    * fixed-point convention), so the doc score is exact integer math
    * plus two deterministic IEEE divisions in both engines. */
  private val UnigramLogprobSql = """
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
        freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        tot AS (SELECT count(*) AS total FROM toks)
        SELECT t.doc_id, count(*) AS n_tokens,
               round(CAST(sum(CAST(round(ln(CAST(f.cnt AS DOUBLE) / tot.total)
                                         * 1000000) AS BIGINT)) AS DOUBLE)
                     / count(*) / 1000000, 4) AS avg_logprob
        FROM toks t JOIN freq f USING (tok) CROSS JOIN tot
        GROUP BY 1"""

  /** Number of minhash components / bands (4 bands x 3 rows). */
  private val K = 12
  private val Bands = 4
  private val RowsPerBand = K / Bands

  // ---- shared Spark-side pipeline pieces -----------------------------------

  /** (doc_id, sh): word 4-shingles, single-space tokenization. */
  /** d08's kernel: exact-threshold (Jaccard >= 0.5) set-similarity
    * join over a DISTINCT (doc_id, sh) element frame — rarity-ordered
    * prefix candidates (lossless: a disjoint-prefix pair's overlap is
    * capped below the threshold's requirement), exact verify, integer
    * threshold compare. One copy with the gate so PrefixFilterSpec
    * can drive adversarial synthetic sets through the same code. */
  private[graft] def setSimPrefixJoin(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val dfT = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfT, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh"))))
        .as("a"))
      .join(sizes, Seq("doc_id"))
      .select(col("doc_id"),
        explode(slice(col("a"), lit(1),
          (col("sz") - ceil(col("sz") * lit(0.5)).cast("long") + 1)
            .cast("int"))).as("e"))
      .select(col("doc_id"), col("e.sh").as("sh"))
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x.sh") === col("y.sh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")),
        Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
        Seq("doc_b"))
      .filter(col("n_inter") * 3 >= col("sz_a") + col("sz_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("sz_a") + col("sz_b") - col("n_inter")).as("n_union"),
        round(col("n_inter") * lit(1.0)
          / (col("sz_a") + col("sz_b") - col("n_inter")), 4)
          .as("jaccard"))
  }

  private def shingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 4)
      // native 4-shingle expansion (plans/WordNgrams, r18): the
      // composed transform(sequence, concat_ws) was CodegenFallback —
      // per-element lambda dispatch on the corpus's single-rowgroup
      // scan task; WordNgramsSpec pins gram-for-gram parity
      .select(col("doc_id"),
        explode(graft.plans.WordNgrams.ofCol(col("w"), 4)).as("sh"))

  /** One row per doc: mh0..mh11 minhash components (min of seeded md5)
    * — the composed form, kept as the parity reference for the native
    * expression (MinHashSignatureSpec). */
  private[queries] def signaturesFrom(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(
        min(md5(concat(lit("0|"), col("sh")))).as("mh0"),
        (1 until K).map(j =>
          min(md5(concat(lit(s"$j|"), col("sh")))).as(s"mh$j")): _*)

  /** Same signature frame via graft.plans.MinHashSignature: one codegen
    * pass, no explode — replaces the explode(~#words rows/doc) →
    * groupBy stage. Values are bit-identical (same seeds, same md5);
    * bench-neutral at sf0.1 (the pair join dominates there) but at
    * 100 TB this swaps a corpus-sized shuffle (~#words rows per doc)
    * for a signature-sized one.
    * The trailing repartition matters: the LSH pipeline consumes the
    * signature frame three times, and the composed form's groupBy
    * exchange was the AQE reuse point; with zero shuffles the per-row
    * hashing would recompute per consumer. One tiny exchange of the
    * one-short-row-per-doc frame restores compute-once reuse — the
    * in-plan miniature of the materialize-signatures-at-scale answer. */
  private[queries] def signatures(s: SparkSession, d: String): DataFrame = {
    graft.plans.MinHashSignature.register(s)
    // scale-adaptive scan spread (r18, guide §2.5/§2.6): minhash_sigs
    // is the corpus's heaviest per-row expression (K md5s per shingle,
    // ~12M digests at sf0.1) and the fixture's single-split scan ran
    // ALL of it in one task — measured 1.42 s -> 0.21 s with the rows
    // spread to the session's parallelism first (tools/SpreadAb,
    // re-runnable from commit c8a8826). At
    // production scale the guard inside Tables.spread is false and
    // the plan is unchanged.
    Tables.spread(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .filter(size(split(col("text"), " ")) >= 4)
      .select(col("doc_id"), expr(s"minhash_sigs(text, $K)").as("mh"))
      .select(col("doc_id") +:
        (0 until K).map(j => col("mh").getItem(j).as(s"mh$j")): _*)
      .repartition(col("doc_id"))
  }

  /** Long-form band table: (doc_id, b, h). */
  private def bandTable(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      val parts = (0 until RowsPerBand).map(r => col(s"mh${RowsPerBand * b + r}"))
      struct(lit(b).as("b"), md5(concat(parts: _*)).as("h"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("m"))
      .select(col("doc_id"), col("m.b").as("b"), col("m.h").as("h"))
  }

  /** LSH candidate pairs (doc_a < doc_b) with minhash-estimated Jaccard.
    *
    * The signature frame feeds the band table AND both sides of the
    * pair estimate, so the shingle pipeline appears several times in
    * the logical plan. Measured at bench scale, recomputing through
    * whole-stage codegen beats `.persist()` by ~2x (cache
    * materialization + lingering storage blocks cost more than the md5
    * recompute, and AQE reuses identical exchanges). At 100 TB the
    * right fix is different in kind: materialize the signature table
    * once via LakeIO.writePartitioned and join against it — signatures
    * are one short row per doc, thousands of times smaller than the
    * corpus — rather than caching corpus-derived frames in executor
    * memory. */
  private def candidatePairsFrom(s: SparkSession, sig: DataFrame): DataFrame = {
    val bl = bandTable(sig)
    val pairs = bl.as("x")
      .join(bl.as("y"),
        col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sa = sig.toDF(sig.columns.map("a_" + _): _*)
    val sb = sig.toDF(sig.columns.map("b_" + _): _*)
    val nMatch = (0 until K)
      .map(j => when(col(s"a_mh$j") === col(s"b_mh$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(sa, col("doc_a") === col("a_doc_id"))
      .join(sb, col("doc_b") === col("b_doc_id"))
      .select(col("doc_a"), col("doc_b"), nMatch.as("n_match"))
      .withColumn("est_jaccard", round(col("n_match") / lit(K.toDouble), 4))
  }

  // ---- shared oracle (DuckDB) pipeline pieces ------------------------------

  private val mhSelect =
    (0 until K).map(j => s"min(md5('$j|' || sh)) AS mh$j").mkString(", ")

  private val bandList = (0 until Bands).map { b =>
    val parts = (0 until RowsPerBand).map(r => s"mh${RowsPerBand * b + r}")
    s"md5(${parts.mkString(" || ")})"
  }.mkString(", ")

  /** Shared CTE prefix: words -> shingles -> signatures -> bands -> pairs. */
  private val oracleLshCtes = s"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS sh
           FROM (SELECT doc_id, w, unnest(range(1, len(w)-2)) AS i
                 FROM words WHERE len(w) >= 4)),
    sig AS (SELECT doc_id, $mhSelect FROM sh GROUP BY 1),
    bl AS (SELECT doc_id, unnest([${(0 until Bands).mkString(",")}]) AS b,
                  unnest([$bandList]) AS h FROM sig),
    pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
              FROM bl x JOIN bl y ON x.b = y.b AND x.h = y.h
                                 AND x.doc_id < y.doc_id)"""

  private val oracleNMatch = (0 until K)
    .map(j => s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** (doc_id, is_eval, g): t28's deterministic eval/train tag (md5
    * bucket, ~10% eval) + exploded 8-word-grams. Shared by the batch
    * decontamination gate (t28) and its streaming replay (st16) so the
    * gram/split recipe exists in exactly one copy. */
  private[queries] def contaminationGrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 10 === 0).as("is_eval"),
        split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      // native 8-gram expansion (plans/WordNgrams, r18; one copy with
      // the t28/st16 oracle recipe)
      .select(col("doc_id"), col("is_eval"), explode(
        graft.plans.WordNgrams.ofCol(col("w"), 8)).as("g"))

  /** t28's full oracle (also gates st16's streamed state — the
    * streaming fold must land on the same per-eval-doc report). */
  private[queries] val DecontaminationSql: String = """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT % 10 = 0 AS is_eval
                   FROM documents),
        g AS (SELECT doc_id, is_eval, array_to_string(w[i:i+7], ' ') AS g
              FROM (SELECT doc_id, is_eval, w, unnest(range(1, len(w) - 6)) AS i
                    FROM t WHERE len(w) >= 8)),
        ev AS (SELECT doc_id, g FROM g WHERE is_eval),
        tr AS (SELECT DISTINCT g FROM g WHERE NOT is_eval),
        tot AS (SELECT doc_id, count(DISTINCT g) AS n_grams FROM ev GROUP BY 1),
        con AS (SELECT ev.doc_id, count(DISTINCT ev.g) AS nc
                FROM ev JOIN tr ON ev.g = tr.g GROUP BY 1)
        SELECT t.doc_id, t.n_grams,
               coalesce(c.nc, 0) AS n_contaminated,
               coalesce(c.nc, 0) > 0 AS contaminated
        FROM tot t LEFT JOIN con c ON t.doc_id = c.doc_id"""

  /** t24's BM25 pipeline as a reusable frame: (doc_id, bm25) for the
    * fixed 3-term query, positive scores only, top 20 by
    * (bm25 desc, doc_id asc). Shared by the t24 gate and v10's lexical
    * retrieval arm so the scoring recipe (and its float-determinism
    * conventions — fixed pivot columns, micro-unit fixed-point parts,
    * 4dp round) exists in exactly one copy. See t24's doc for the plan
    * rationale (single tokenize + localCheckpoint, broadcast corpus
    * stats). */
  private[graft] def bm25Top20(s: SparkSession, d: String): DataFrame = {
    val k1 = 1.2; val b = 0.75
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("dl"),
        sum(when(col("tok") === "table", 1).otherwise(0)).as("tf1"),
        sum(when(col("tok") === "query", 1).otherwise(0)).as("tf2"),
        sum(when(col("tok") === "join", 1).otherwise(0)).as("tf3"))
      .localCheckpoint(true)
    // every doc emits >=1 token (split of "" is [""]), so tf covers
    // all docs and N/df/avgdl are derivable without re-tokenizing
    val n = tf.agg(count(lit(1)).as("n_docs"))
    val dfs = tf.agg(
      sum(when(col("tf1") > 0, 1).otherwise(0)).as("df1"),
      sum(when(col("tf2") > 0, 1).otherwise(0)).as("df2"),
      sum(when(col("tf3") > 0, 1).otherwise(0)).as("df3"))
    val avgdl = tf.agg(avg(col("dl")).as("avgdl"))
    // each per-term BM25 part quantizes to integer micro-units (the
    // t31 fixed-point convention) so the 3-term sum is exact integer
    // math and the 4dp score — also the rank key — is bit-identical
    // cross-engine regardless of ln()/avgdl ulp drift
    def part(tfc: Column, dfc: Column, nd: Column, dl: Column, ad: Column) =
      round((log(((nd - dfc + 0.5) / (dfc + 0.5)) + 1.0) *
        (tfc * (k1 + 1.0)) /
        (tfc + lit(k1) * (lit(1.0 - b) + lit(b) * dl / ad))) * 1e6)
        .cast("long")
    tf.crossJoin(broadcast(n)).crossJoin(broadcast(dfs))
      .crossJoin(broadcast(avgdl))
      .select(col("doc_id"),
        round(
          (part(col("tf1"), col("df1"), col("n_docs"), col("dl"), col("avgdl"))
            + part(col("tf2"), col("df2"), col("n_docs"), col("dl"), col("avgdl"))
            + part(col("tf3"), col("df3"), col("n_docs"), col("dl"), col("avgdl")))
            .cast("double") / lit(1e6),
          4).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
  }

  /** Oracle CTE chain for the BM25 recipe, ending in
    * `bm25_scored(doc_id, bm25)` (positive scores, unordered — each
    * consumer orders/limits). Shared by the t24 and v10 oracles. */
  private[graft] val Bm25Sql: String = """
        toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
        tf AS (SELECT doc_id, count(*) AS dl,
                      sum(CASE WHEN tok = 'table' THEN 1 ELSE 0 END) AS tf1,
                      sum(CASE WHEN tok = 'query' THEN 1 ELSE 0 END) AS tf2,
                      sum(CASE WHEN tok = 'join' THEN 1 ELSE 0 END) AS tf3
               FROM toks GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        dfs AS (SELECT
                  count(DISTINCT CASE WHEN tok = 'table' THEN doc_id END) AS df1,
                  count(DISTINCT CASE WHEN tok = 'query' THEN doc_id END) AS df2,
                  count(DISTINCT CASE WHEN tok = 'join' THEN doc_id END) AS df3
                FROM toks),
        a AS (SELECT avg(dl) AS avgdl FROM tf),
        bm25_all AS (SELECT doc_id,
               round(CAST(
                 CAST(round(ln((n_docs - df1 + 0.5)/(df1 + 0.5) + 1.0)
                   * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   * 1000000) AS BIGINT)
                 + CAST(round(ln((n_docs - df2 + 0.5)/(df2 + 0.5) + 1.0)
                   * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   * 1000000) AS BIGINT)
                 + CAST(round(ln((n_docs - df3 + 0.5)/(df3 + 0.5) + 1.0)
                   * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   * 1000000) AS BIGINT) AS DOUBLE) / 1000000,
                 4) AS bm25
               FROM tf, n, dfs, a),
        bm25_scored AS (SELECT doc_id, bm25 FROM bm25_all WHERE bm25 > 0)"""

  def defs: Seq[Q] = Seq(

    // ----- text quality scoring ---------------------------------------------
    Q(
      "t01_quality_score",
      "Per-document quality scoring (length, stopword ratio, alpha ratio " +
        "— the training-data quality-filter family): scalar features + a " +
        "composite score + a grade bucket. One explode + hash agg; " +
        "embarrassingly parallel at any scale.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        val tokAgg = toks.groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when(col("tok").isin(StopWords: _*), 1L).otherwise(0L)).as("n_stop"),
            round(avg(length(col("tok"))), 4).as("mean_wlen"))
        docs.join(tokAgg, Seq("doc_id"))
          .select(
            col("doc_id"), col("lang"), col("n_chars"), col("n_tokens"),
            col("mean_wlen"),
            round(col("n_stop") * lit(1.0) / col("n_tokens"), 4).as("stop_ratio"),
            round(length(regexp_replace(col("text"), "[^a-z]", "")) * lit(1.0)
              / col("n_chars"), 4).as("alpha_ratio"))
          .withColumn("quality",
            round(lit(0.4) * least(col("n_tokens") / 100.0, lit(1.0))
              + lit(0.4) * col("stop_ratio") + lit(0.2) * col("alpha_ratio"), 4))
          .withColumn("grade",
            when(col("quality") >= 0.6, "high")
              .when(col("quality") >= 0.4, "mid").otherwise("low"))
      },
      Some(QualitySql)),

    // ----- t01 as a native expression: same oracle, no per-token shuffle -------
    Q(
      "t01b_quality_native",
      "t01 via ONE codegen'd expression (graft.plans.TokenStats): token " +
        "count / stopword count / summed token length computed per row " +
        "inside the scan — the composed form shuffles one row per TOKEN " +
        "of the corpus. Integer-only expression outputs; every float op " +
        "(mean, ratios, round) stays in Spark SQL so the result is " +
        "bit-identical. Same DuckDB oracle as t01.",
      (s, d) => {
        graft.plans.TokenStats.register(s)
        val docs = Tables.documents(s, d)
        docs
          .withColumn("ts",
            expr(s"token_stats(text, '${StopWords.mkString(",")}')"))
          .select(
            col("doc_id"), col("lang"), col("n_chars"),
            col("ts.n_tokens").as("n_tokens"),
            round(col("ts.sum_wlen").cast("double") / col("ts.n_tokens"), 4)
              .as("mean_wlen"),
            round(col("ts.n_stop") * lit(1.0) / col("ts.n_tokens"), 4)
              .as("stop_ratio"),
            round(length(regexp_replace(col("text"), "[^a-z]", "")) * lit(1.0)
              / col("n_chars"), 4).as("alpha_ratio"))
          .withColumn("quality",
            round(lit(0.4) * least(col("n_tokens") / 100.0, lit(1.0))
              + lit(0.4) * col("stop_ratio") + lit(0.2) * col("alpha_ratio"), 4))
          .withColumn("grade",
            when(col("quality") >= 0.6, "high")
              .when(col("quality") >= 0.4, "mid").otherwise("low"))
      },
      Some(QualitySql)),

    // ----- token counting ----------------------------------------------------
    Q(
      "t02_token_count",
      "Token counting (whitespace + a BPE-ish regex segmenter " +
        "[a-z]+|[0-9]+|punct) rolled up per language — the budget/len " +
        "accounting pass of a training-data pipeline.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.select(
            col("lang"),
            size(split(col("text"), " ")).as("ws_toks"),
            size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("bpe_toks"),
            col("n_chars"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("ws_toks").cast("long")).as("total_ws_tokens"),
            sum(col("bpe_toks").cast("long")).as("total_bpe_tokens"),
            round(sum(col("n_chars")) * lit(1.0) / sum(col("bpe_toks")), 4)
              .as("chars_per_token"))
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
               CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_bpe_tokens,
               round(sum(n_chars) * 1.0 / sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 4) AS chars_per_token
        FROM documents GROUP BY 1""")),

    // ----- language identification -------------------------------------------
    Q(
      "t03_lang_id",
      "Stopword-profile language ID (n-gram-heuristic family): score " +
        "each doc against five language profiles, argmax with a " +
        "deterministic alphabetical tiebreak; emitted next to the true " +
        "label for accuracy auditing.",
      (s, d) => {
        val profiles = Seq(
          "de" -> Seq("der", "die", "und", "das", "ist"),
          "en" -> Seq("the", "a", "of", "and", "to"),
          "es" -> Seq("el", "la", "los", "que", "por"),
          "fr" -> Seq("le", "les", "des", "une", "est"),
          "zh" -> Seq("zh", "shi", "bu", "wo", "ni"))
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        val scoreCols = profiles.map { case (l, ws) =>
          sum(when(col("tok").isin(ws: _*), 1L).otherwise(0L)).as(s"s_$l")
        }
        val scored = toks.groupBy(col("doc_id"), col("lang"))
          .agg(scoreCols.head, scoreCols.tail: _*)
        // first-wins >= chain = alphabetical tiebreak (de,en,es,fr,zh)
        val langs = profiles.map(_._1)
        val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
          case ((l, i), rest) =>
            val ge = langs.drop(i + 1)
              .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
            when(ge, lit(l)).otherwise(rest)
        }
        scored.select(
          (Seq(col("doc_id"), col("lang")) ++
            langs.map(l => col(s"s_$l")) :+ pred.as("pred_lang")): _*)
          .withColumn("is_correct", col("pred_lang") === col("lang"))
      },
      Some("""
        WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        sc AS (SELECT doc_id, lang,
                      sum(CASE WHEN tok IN ('der','die','und','das','ist') THEN 1 ELSE 0 END) AS s_de,
                      sum(CASE WHEN tok IN ('the','a','of','and','to') THEN 1 ELSE 0 END) AS s_en,
                      sum(CASE WHEN tok IN ('el','la','los','que','por') THEN 1 ELSE 0 END) AS s_es,
                      sum(CASE WHEN tok IN ('le','les','des','une','est') THEN 1 ELSE 0 END) AS s_fr,
                      sum(CASE WHEN tok IN ('zh','shi','bu','wo','ni') THEN 1 ELSE 0 END) AS s_zh
               FROM tok GROUP BY 1, 2),
        p AS (SELECT doc_id, lang,
                     CAST(s_de AS BIGINT) AS s_de, CAST(s_en AS BIGINT) AS s_en,
                     CAST(s_es AS BIGINT) AS s_es, CAST(s_fr AS BIGINT) AS s_fr,
                     CAST(s_zh AS BIGINT) AS s_zh,
                     CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                          WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                          WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                          WHEN s_fr >= s_zh THEN 'fr'
                          ELSE 'zh' END AS pred_lang
              FROM sc)
        SELECT *, pred_lang = lang AS is_correct FROM p""")),

    // ----- document fingerprinting --------------------------------------------
    // (the composed explode-per-kgram form that used to gate as
    // t04_fingerprint was demoted to a spec-level parity check —
    // fingerprintComposed + KgramFingerprintSpec — per VERDICT r12 #4:
    // it paid a |text|-row explode+shuffle per doc, 5.1 s of bench for
    // no coverage the native gate below doesn't give)
    Q(
      "t04b_fingerprint_native",
      "Rolling-hash document fingerprinting (winnowing-lite): 8-char " +
        "k-gram md5s, keep the min as the doc fingerprint plus the " +
        "distinct-kgram count, as ONE codegen'd Catalyst expression " +
        "(graft.plans.KgramFingerprint): min-md5 + distinct count over " +
        "all k-grams computed inside the scan projection — the composed " +
        "form (fingerprintComposed, spec-pinned parity twin) explodes " +
        "~|text| rows per doc through a shuffle; this moves zero rows.",
      (s, d) => {
        graft.plans.KgramFingerprint.register(s)
        // scan spread (r18, guide §2.5): ~|text| md5s per doc — the
        // minhash class; no-op at scale (Tables.spread guard)
        val docs = Tables.spread(Tables.documents(s, d)
          .select(col("doc_id"), col("text")))
        docs.filter(length(col("text")) >= 8)
          .select(col("doc_id"), expr("kgram_fingerprint(text, 8)").as("s"))
          .select(col("doc_id"), col("s.n_kgrams").as("n_kgrams"),
            col("s.fp").as("fp"), substring(col("s.fp"), 1, 8).as("fp8"))
      },
      Some("""
        WITH kg AS (SELECT doc_id, substr(text, i, 8) AS kg
                    FROM (SELECT doc_id, text, unnest(range(1, length(text)-6)) AS i
                          FROM documents WHERE length(text) >= 8))
        SELECT doc_id, count(DISTINCT kg) AS n_kgrams, min(md5(kg)) AS fp,
               substr(min(md5(kg)), 1, 8) AS fp8
        FROM kg GROUP BY 1""")),

    // ----- deterministic splits / sampling -------------------------------------
    Q(
      "t05_split_assign",
      "Deterministic hash train/val/test split: bucket by the first two " +
        "hex chars of md5(doc_id) — 'e6'/'f6' thresholds ≈ 90/6/4 — so " +
        "the assignment is stable across runs, engines, and cluster " +
        "sizes (no RNG, no shuffle: a pure per-row map over the scan). " +
        "The lexicographic hex compare is engine-neutral.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val b = substring(md5(col("doc_id").cast("string")), 1, 2)
        docs.select(col("doc_id"),
            when(b < "e6", "train").when(b < "f6", "val")
              .otherwise("test").as("split"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      },
      Some("""
        SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f6' THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs, min(doc_id) AS first_doc
        FROM documents GROUP BY 1""")),

    Q(
      "t06_stratified_sample",
      "Reproducible stratified sampling: keep ~1/8 of each language " +
        "stratum via an md5 threshold on (lang, doc_id) — per-stratum " +
        "rates hold at any scale, reruns select the SAME rows " +
        "(sampleBy() cannot promise that), and the filter runs before " +
        "any shuffle so the downstream pipeline only sees kept rows.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keep = substring(
          md5(concat(col("lang"), lit("|"), col("doc_id").cast("string"))), 1, 1) < "2"
        docs.groupBy(col("lang")).agg(
          count(lit(1)).as("n_total"),
          sum(when(keep, 1L).otherwise(0L)).as("n_sampled"),
          min(when(keep, col("doc_id"))).as("first_sampled"))
      },
      Some("""
        SELECT lang, count(*) AS n_total,
               CAST(sum(CASE WHEN substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 1) < '2'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
               min(CASE WHEN substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 1) < '2'
                        THEN doc_id END) AS first_sampled
        FROM documents GROUP BY 1""")),

    Q(
      "t07_sequence_pack",
      "Deterministic sequence packing for pretraining batches: docs " +
        "ordered by doc_id within each language, running whitespace-" +
        "token sum, bin = floor(tokens_before / 4096) — each bin is one " +
        "~4k-token context window. The window is keyed by lang (never " +
        "global), so packing parallelizes across strata at any scale.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
        docs.select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("toks"))
          .withColumn("cum", sum(col("toks")).over(w))
          .withColumn("bin", floor((col("cum") - col("toks")) / lit(4096)))
          .groupBy(col("lang"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      },
      Some("""
        WITH toks AS (
          SELECT lang, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                 sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                   OVER (PARTITION BY lang ORDER BY doc_id ASC
                         ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents)
        SELECT lang, CAST(floor((cum - toks) / 4096.0) AS BIGINT) AS bin,
               count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS bin_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM toks GROUP BY 1, 2""")),

    Q(
      "t08_weighted_mix",
      "Data-mixture recipe: per-language target sampling rates (a " +
        "broadcast recipe dim: en 20%, de 12.5%, fr 6.25%, es 3%, ja " +
        "25%) applied via the same deterministic md5 threshold — the " +
        "corpus-mixing pass that sets a pretraining data distribution; " +
        "languages outside the recipe drop out via the inner join.",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val recipe = Seq(("en", "33"), ("de", "20"), ("fr", "10"),
          ("es", "08"), ("ja", "40")).toDF("lang", "thr")
        docs.join(broadcast(recipe), Seq("lang"))
          .filter(substring(md5(concat(col("lang"), lit("|"),
            col("doc_id").cast("string"))), 1, 2) < col("thr"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
      },
      Some("""
        WITH recipe(lang, thr) AS (VALUES
          ('en', '33'), ('de', '20'), ('fr', '10'), ('es', '08'), ('ja', '40'))
        SELECT d.lang, count(*) AS n_kept,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents d JOIN recipe r ON d.lang = r.lang
        WHERE substr(md5(d.lang || '|' || CAST(doc_id AS VARCHAR)), 1, 2) < r.thr
        GROUP BY 1""")),

    Q(
      "t09_repetition",
      "Gopher-style repetition signal: per document, total vs distinct " +
        "word 3-grams (duplicate-gram count = total - distinct) — a " +
        "standard pretraining quality filter for boilerplate/looping " +
        "text. Pure array functions (transform over sequence + " +
        "array_distinct): per-row compute, ZERO shuffle, stays inside " +
        "whole-stage codegen. Integer outputs only so cross-engine " +
        "hashing needs no rounding convention.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 3)
          .select(col("doc_id"), expr(
            "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', " +
              "element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3)))")
            .as("gs"))
          .select(col("doc_id"),
            size(col("gs")).cast("long").as("n_grams"),
            size(array_distinct(col("gs"))).cast("long").as("n_distinct"),
            (size(col("gs")) - size(array_distinct(col("gs")))).cast("long")
              .as("n_repeated"))
      },
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        g AS (SELECT doc_id,
                     list_transform(range(len(ws) - 2), i ->
                       ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]) AS gs
              FROM w WHERE len(ws) >= 3)
        SELECT doc_id,
               CAST(len(gs) AS BIGINT) AS n_grams,
               CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
               CAST(len(gs) - len(list_distinct(gs)) AS BIGINT) AS n_repeated
        FROM g""")),

    Q(
      "t10_contamination",
      "Benchmark-contamination detection: the held-out set (doc_id % 5 " +
        "= 0, ~1% of the corpus) contributes a distinct word-8-gram md5 " +
        "set; every other document is flagged with how many of its own " +
        "distinct 8-grams appear in that set — the n-gram-overlap decontamination " +
        "pass every pretraining pipeline runs against eval benchmarks. " +
        "Scale shape: the benchmark gram set is broadcast (small by " +
        "construction), the corpus side is one scan + explode of " +
        "per-doc DISTINCT grams, equi-join on the hash — never n².",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = word8Grams(docs.filter(col("doc_id") % 5 === 0))
          .select(col("gh")).distinct()
        word8Grams(docs.filter(col("doc_id") % 5 =!= 0))
          .join(broadcast(bench), Seq("gh"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared"))
      },
      Some(ContaminationSql)),

    Q(
      "t10b_contamination_bloom",
      "The 100-TB decontamination shape, same answer as t10: build a " +
        "Bloom filter over the benchmark gram set in one distributed " +
        "aggregate (~1.2 MB/1M grams vs gigabytes for the raw set t10 " +
        "broadcasts), prefilter corpus grams executor-side with the " +
        "codegen'd might_contain BEFORE any shuffle, then exact-verify " +
        "only the bloom survivors against the gram set with a plain " +
        "equi-join (NO broadcast hint — at scale the survivor side is " +
        "tiny, so the verify shuffle is bounded by true-contamination + " +
        "fpp volume, and the bench side no longer needs to fit in " +
        "driver/executor broadcast memory as raw strings). The verify " +
        "join removes bloom false positives, so the output is exact and " +
        "hash-gates against t10's oracle.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // two consumers (bloom build + verify join) — materialize the
        // benchmark-bounded gram set once instead of re-exploding it
        val bench = word8Grams(docs.filter(col("doc_id") % 5 === 0))
          .select(col("gh")).distinct().localCheckpoint(true)
        // exact sizing is free: the set is already materialized, and an
        // undersized filter silently inflates fpp (= verify-join volume)
        val bloom = graft.plans.BloomSketch.build(bench, col("gh"), bench.count())
        word8Grams(docs.filter(col("doc_id") % 5 =!= 0))
          .filter(graft.plans.BloomSketch.mightContain(bloom, col("gh")))
          .join(bench, Seq("gh"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared"))
      },
      Some(ContaminationSql)),

    Q(
      "t11_oov_rate",
      "Vocabulary-coverage filter (the CCNet/rare-token family): pass 1 " +
        "builds the corpus vocabulary (tokens with frequency >= 50), " +
        "pass 2 annotates every document with its total and " +
        "out-of-vocabulary token counts via an anti-join — the " +
        "two-pass corpus-stats-then-annotate shape every frequency-" +
        "based quality filter uses. Integer outputs only. At 100 TB " +
        "the vocabulary is Heap's-law-bounded but may exceed broadcast " +
        "size — the anti-join is a plain equi-join on the token, so " +
        "AQE picks broadcast vs shuffle by its actual size.",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val vocab = toks.groupBy(col("tok"))
          .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 50)
          .select(col("tok"))
        val total = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
        val oov = toks.join(vocab, Seq("tok"), "left_anti")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_oov"))
        total.join(oov, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
        vocab AS (SELECT tok FROM toks GROUP BY 1 HAVING count(*) >= 50),
        tot AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1),
        oov AS (SELECT doc_id, count(*) AS n_oov
                FROM toks ANTI JOIN vocab USING (tok) GROUP BY 1)
        SELECT t.doc_id, t.n_tokens,
               CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov
        FROM tot t LEFT JOIN oov o ON t.doc_id = o.doc_id""")),

    // ----- overlapping-window chunking -----------------------------------------
    Q(
      "t12_chunk_windows",
      "Sliding-window document chunking (the context-window prep step " +
        "every training pipeline runs before tokenization): 120-char " +
        "windows at stride 90 (30-char overlap), stable (doc_id, " +
        "chunk_idx) ids, per-chunk md5. Pure explode + projection — " +
        "zero shuffle, embarrassingly parallel at any scale; chunk " +
        "count per doc is ceil((len-W)/S)+1 so output size is " +
        "len/S-linear, never quadratic.",
      (s, d) => {
        val W = 120
        val S = 90
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"),
            greatest(ceil((length(col("text")) - W) / lit(S.toDouble)), lit(0))
              .cast("int").as("last_idx"))
          .select(col("doc_id"), col("text"),
            explode(expr("sequence(0, last_idx)")).as("chunk_idx"))
          .select(
            col("doc_id"),
            col("chunk_idx").cast("long").as("chunk_idx"),
            (col("chunk_idx") * S + 1).cast("long").as("chunk_start"),
            expr(s"substring(text, chunk_idx * $S + 1, $W)").as("chunk"))
          .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
            length(col("chunk")).cast("long").as("chunk_len"),
            md5(col("chunk")).as("chunk_md5"))
      },
      Some("""
        WITH idx AS (
          SELECT doc_id, text,
                 greatest(CAST(ceil((length(text) - 120) / 90.0) AS BIGINT), 0) AS last_idx
          FROM documents),
        c AS (
          SELECT doc_id, text, unnest(generate_series(0, last_idx)) AS chunk_idx
          FROM idx)
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(chunk_idx * 90 + 1 AS BIGINT) AS chunk_start,
               CAST(length(substr(text, CAST(chunk_idx * 90 + 1 AS INT), 120)) AS BIGINT) AS chunk_len,
               md5(substr(text, CAST(chunk_idx * 90 + 1 AS INT), 120)) AS chunk_md5
        FROM c""")),

    // ----- PII scrubbing --------------------------------------------------------
    Q(
      "t13_pii_scrub",
      "PII redaction (the compliance pass before any corpus ships): " +
        "synthesizes a deterministic email + phone per document (the " +
        "test corpus has none), masks both with RE2-safe regexes " +
        "(no lookarounds/backrefs, so the same pattern runs on Java " +
        "regex and RE2 engines), and reports per-doc mask counts. " +
        "Pure per-row projection — zero shuffle at any scale.",
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\b\\d{3}-\\d{4}\\b"
        Tables.documents(s, d)
          .select(col("doc_id"),
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"),
              lit("@mail.example.com or call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("aug"))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("aug"), lit(email), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("aug"), lit(phone), lit(0)))
              .cast("long").as("n_phones"),
            md5(regexp_replace(
              regexp_replace(col("aug"), email, "<EMAIL>"),
              phone, "<PHONE>")).as("masked_md5"))
      },
      Some("""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id || '@mail.example.com or call 555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(aug, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
               md5(regexp_replace(
                     regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\b\d{3}-\d{4}\b', '<PHONE>', 'g')) AS masked_md5
        FROM aug""")),

    // ----- per-source document caps ---------------------------------------------
    Q(
      "t14_source_cap",
      "Per-source document caps (the crawl-diversity pass that stops " +
        "any one domain from dominating a pretraining mix): docs are " +
        "ranked within each source by a deterministic md5 lottery (no " +
        "RNG — same winners on any engine or cluster size) and capped " +
        "at 10; reports per-source total/kept volume. The kept set is " +
        "the textbook row_number-filter idiom, so under GraftExtensions " +
        "the cap plans as the TopKPerKey heap operator (k rows per " +
        "source per map task — GraftExtensionsSpec pins this) instead " +
        "of a full per-source sort+window; totals come from a separate " +
        "map-side-combined agg. Everything is keyed by source — no " +
        "global ordering anywhere.",
      (s, d) => {
        val cap = 10
        val docs = Tables.documents(s, d)
        val hashed = docs.select(col("source"), col("doc_id"), col("n_chars"),
          md5(concat(col("source"), lit("|"), col("doc_id").cast("string"))).as("h"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("h").asc, col("doc_id").asc)
        val kept = hashed.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= cap).drop("rn")
        val keptAgg = kept.groupBy(col("source")).agg(
          count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"),
          min(col("doc_id")).as("first_kept"))
        val totals = hashed.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        totals.join(keptAgg, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_kept"),
            col("kept_chars"), col("first_kept"))
      },
      Some("""
        WITH r AS (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5(source || '|' || CAST(doc_id AS VARCHAR)) ASC,
                            doc_id ASC) AS rn
          FROM documents)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN rn <= 10 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
               min(CASE WHEN rn <= 10 THEN doc_id END) AS first_kept
        FROM r GROUP BY 1""")),

    // ----- deterministic training shards ----------------------------------------
    Q(
      "t15_corpus_shard",
      "Deterministic training-shard assignment: shard = first hex " +
        "nibble of md5(doc_id) (16 shards), within-shard order = the " +
        "full hash — the reproducible global shuffle a pretraining run " +
        "needs (same doc -> same shard -> same position at any cluster " +
        "size, no RNG, no global sort). Reports per-shard doc/token " +
        "balance plus the hash-order head and tail doc; one hash-keyed " +
        "exchange, and shard count widens with the corpus.",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("toks"),
            md5(col("doc_id").cast("string")).as("h"))
          .withColumn("shard", substring(col("h"), 1, 1))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
            min_by(col("doc_id"), col("h")).as("head_doc"),
            max_by(col("doc_id"), col("h")).as("tail_doc"))
      },
      Some("""
        WITH h AS (SELECT doc_id,
                          CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                          md5(CAST(doc_id AS VARCHAR)) AS h
                   FROM documents)
        SELECT substr(h, 1, 1) AS shard, count(*) AS n_docs,
               CAST(sum(toks) AS BIGINT) AS n_tokens,
               min_by(doc_id, h) AS head_doc, max_by(doc_id, h) AS tail_doc
        FROM h GROUP BY 1""")),

    // ----- composed quality gate ------------------------------------------------
    Q(
      "t16_quality_gate",
      "The composed corpus keep/drop decision (C4/Gopher-style filter " +
        "cascade): a doc is dropped if too short (<16 ws tokens), mean " +
        "word length outside [4.2,5.0], stopword ratio <1%, or " +
        "duplicate word-3-gram fraction >2% — per-language kept/reason " +
        "counts out. Thresholds are config constants, pinned here to " +
        "values that exercise EVERY branch on the test corpus; each " +
        "ratio is an integer cross-multiplication (no float " +
        "thresholds), so both engines decide identically. Pure per-row " +
        "projection + one tiny per-lang rollup; a doc counts once per " +
        "reason it trips.",
      (s, d) => {
        val stopArr = StopWords.map(w => s"'$w'").mkString("array(", ", ", ")")
        // scan spread (r18, guide §2.5): the interpreted HOF cascade is
        // this query's declared subject and heavy enough per row for
        // the spread to pay (measured 0.49->0.33 s); t16b's native pass
        // is NOT — the same spread measured a 0.12->0.24 s regression
        // there (shuffle cost > the cheap per-row work), so the native
        // twin deliberately keeps the raw scan. The twin contrast is
        // expression cost either way, and both hash the same oracle.
        Tables.spread(Tables.documents(s, d)
            .select(col("lang"), col("text")))
          .select(col("lang"), split(col("text"), " ").as("ws"))
          .select(col("lang"), size(col("ws")).cast("long").as("toks"),
            expr("aggregate(transform(ws, w -> length(w)), 0L, (a, v) -> a + v)")
              .as("chars"),
            expr(s"size(filter(ws, w -> array_contains($stopArr, w)))")
              .cast("long").as("stops"),
            // 3-gram count is toks-2 by construction (no array needed);
            // the distinct count guards toks<3 where sequence() would
            // produce a descending range instead of an empty one
            greatest(size(col("ws")) - 2, lit(0)).cast("long").as("g_total"),
            expr("CASE WHEN size(ws) >= 3 THEN " +
              "size(array_distinct(transform(sequence(0, size(ws) - 3), " +
              "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))) ELSE 0 END")
              .cast("long").as("g_dist"))
          .select(col("lang"),
            (col("toks") < 16).as("f_short"),
            (col("chars") * 10 < col("toks") * 42 || col("chars") * 10 > col("toks") * 50)
              .as("f_wlen"),
            (col("stops") * 100 < col("toks")).as("f_stop"),
            ((col("g_total") - col("g_dist")) * 50 > col("g_total")).as("f_rep"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(!col("f_short") && !col("f_wlen") && !col("f_stop")
              && !col("f_rep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("f_short"), 1L).otherwise(0L)).as("n_short"),
            sum(when(col("f_wlen"), 1L).otherwise(0L)).as("n_wordlen"),
            sum(when(col("f_stop"), 1L).otherwise(0L)).as("n_stopword"),
            sum(when(col("f_rep"), 1L).otherwise(0L)).as("n_repetitive"))
      },
      Some(QualityGateSql)),

    Q(
      "t16b_quality_gate_native",
      "t16's native twin: toks/chars/stops from the token_stats " +
        "expression and the 3-gram totals from gram_stats (one HashSet " +
        "pass) instead of transform -> array_distinct, whose pairwise " +
        "string comparison over ~1k grams per document was measured at " +
        "~75% of the whole cascade. Flags, rollup, and oracle are " +
        "identical to t16 — same hash, a fraction of the CPU.",
      (s, d) => {
        graft.plans.TokenStats.register(s)
        graft.plans.GramStats.register(s)
        val stopCsv = StopWords.mkString(",")
        Tables.documents(s, d)
          .select(col("lang"),
            expr(s"token_stats(text, '$stopCsv')").as("ts"),
            expr("gram_stats(text)").as("gs"))
          .select(col("lang"),
            col("ts.n_tokens").as("toks"),
            col("ts.sum_wlen").as("chars"),
            col("ts.n_stop").as("stops"),
            col("gs.g_total").as("g_total"),
            col("gs.g_dist").as("g_dist"))
          .select(col("lang"),
            (col("toks") < 16).as("f_short"),
            (col("chars") * 10 < col("toks") * 42 || col("chars") * 10 > col("toks") * 50)
              .as("f_wlen"),
            (col("stops") * 100 < col("toks")).as("f_stop"),
            ((col("g_total") - col("g_dist")) * 50 > col("g_total")).as("f_rep"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(!col("f_short") && !col("f_wlen") && !col("f_stop")
              && !col("f_rep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("f_short"), 1L).otherwise(0L)).as("n_short"),
            sum(when(col("f_wlen"), 1L).otherwise(0L)).as("n_wordlen"),
            sum(when(col("f_stop"), 1L).otherwise(0L)).as("n_stopword"),
            sum(when(col("f_rep"), 1L).otherwise(0L)).as("n_repetitive"))
      },
      Some(QualityGateSql)),

    // ----- unigram LM quality score ---------------------------------------------
    Q(
      "t17_unigram_logprob",
      "CCNet-style LM quality score, unigram flavor: pass 1 builds the " +
        "corpus unigram model (token counts + corpus total), pass 2 " +
        "scores every document by its mean token log-probability — the " +
        "perplexity-bucket filter shape (CCNet buckets docs by LM score " +
        "and keeps the low-perplexity head). Same two-pass corpus-" +
        "stats-then-annotate shape as t11; the model join is a plain " +
        "token equi-join so AQE picks broadcast vs shuffle by the " +
        "measured vocab size (Heap's-law-bounded, not corpus-bounded). " +
        "No OOV branch needed: the model is fit on the corpus it " +
        "scores, so every token is in-vocab by construction.",
      (s, d) => {
        // aggregate to (doc, token, tf) BEFORE the model join: the join and
        // everything after carry distinct pairs (map-side combined), not
        // every token occurrence; mean log-prob is the tf-weighted mean
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val freq = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
        val tot = tf.agg(sum(col("tf")).as("total"))
        tf.join(freq, Seq("tok"))
          .crossJoin(broadcast(tot))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("tf")).as("n_tokens"),
            // micro-nat quantization before the mean (t31 convention)
            round(
              sum(col("tf") *
                  round(log(col("cnt").cast("double") / col("total")) * 1e6)
                    .cast("long")).cast("double")
                / sum(col("tf")) / lit(1e6), 4)
              .as("avg_logprob"))
      },
      Some(UnigramLogprobSql)),

    Q(
      "t17b_unigram_logprob_native",
      "t17's native twin (the t01b/t04b pattern): the (doc, token, tf) " +
        "stage computed by the token_freqs expression — one hash pass " +
        "per row, ZERO shuffle — instead of explode -> groupBy over " +
        "every token occurrence. Model join and tf-weighted mean " +
        "unchanged; same oracle hash. At 100 TB the removed exchange " +
        "is the corpus's entire token stream.",
      (s, d) => {
        graft.plans.TokenFreqs.register(s)
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(expr("token_freqs(text)")).as("kv"))
          .select(col("doc_id"), col("kv.tok").as("tok"), col("kv.tf").as("tf"))
        val freq = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
        val tot = tf.agg(sum(col("tf")).as("total"))
        tf.join(freq, Seq("tok"))
          .crossJoin(broadcast(tot))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("tf")).as("n_tokens"),
            // micro-nat quantization before the mean (t31 convention)
            round(
              sum(col("tf") *
                  round(log(col("cnt").cast("double") / col("total")) * 1e6)
                    .cast("long")).cast("double")
                / sum(col("tf")) / lit(1e6), 4)
              .as("avg_logprob"))
      },
      Some(UnigramLogprobSql)),

    // ----- TF-IDF top terms (dogfoods the TopKPerKey operator) ------------------
    Q(
      "t18_tfidf_topterms",
      "TF-IDF keyword extraction: per-document term frequency x corpus " +
        "inverse document frequency, top 3 terms per doc — the keyword/" +
        "topic-tagging pass over a training corpus. The per-key top-k " +
        "runs through the custom TopKPerKey operator (o06's heap " +
        "partial -> exchange -> final plan), so the rank step ships 3 " +
        "rows per (doc, map partition) instead of window-sorting every " +
        "scored term; the tf stage is the shuffle-free token_freqs " +
        "expression (t17b's win applied). Oracle is the window " +
        "row_number form.",
      (s, d) => {
        graft.plans.TokenFreqs.register(s)
        val docs = Tables.documents(s, d)
        val tf = docs
          .select(col("doc_id"), explode(expr("token_freqs(text)")).as("kv"))
          .select(col("doc_id"), col("kv.tok").as("tok"), col("kv.tf").as("tf"))
        val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(dfreq, Seq("tok"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("tok"),
            (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("score"))
        graft.plans.TopKPerKey.topK(
            scored, Seq("doc_id"), Seq(col("score").desc, col("tok").asc), 3)
          .select(col("doc_id"), col("tok"), round(col("score"), 4).as("score"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (SELECT t.doc_id, t.tok,
                          t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) AS score
                   FROM tf t JOIN df d USING (tok) CROSS JOIN n),
        r AS (SELECT doc_id, tok, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, tok ASC) AS rn
              FROM scored)
        SELECT doc_id, tok, round(score, 4) AS score FROM r WHERE rn <= 3""")),

    // ----- BPE pair statistics --------------------------------------------------
    Q(
      "t19_bpe_pair_step",
      "The statistic one BPE-training iteration computes (tokenizer " +
        "vocab build): word frequencies -> adjacent character-pair " +
        "counts weighted by word count -> top-10 merge candidates " +
        "(count desc, pair asc). Pairs come from substring positions " +
        "(overlaps counted, the standard pair-count), n_words counts " +
        "distinct words containing the pair. Integer outputs only; " +
        "TakeOrderedAndProject for the top-10. The full merge LOOP is " +
        "procedural (each merge rewrites the symbol inventory — the " +
        "dm10/v05 carve-out class); this gates the step it iterates.",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        words.select(col("w"), col("wc"),
            explode(expr(
              "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
              .as("pair"))
          .groupBy(col("pair"))
          .agg(
            sum(col("wc")).as("n_occurrences"),
            countDistinct(col("w")).as("n_words"))
          .orderBy(col("n_occurrences").desc, col("pair").asc)
          .limit(10)
      },
      Some("""
        WITH w AS (
          SELECT tok AS w, count(*) AS wc
          FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          WHERE length(tok) >= 2
          GROUP BY 1),
        p AS (
          SELECT w, wc,
                 unnest(list_transform(range(length(w) - 1),
                                       i -> substr(w, i + 1, 2))) AS pair
          FROM w)
        SELECT pair,
               CAST(sum(wc) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT w) AS BIGINT) AS n_words
        FROM p GROUP BY 1
        ORDER BY n_occurrences DESC, pair ASC LIMIT 10""")),

    // ----- the BPE merge LOOP itself (the v05c precedent) ------------------------
    Q(
      "t19b_bpe_merge_loop",
      "The REAL BpeTrainer.fit at 2 iterations — count pairs, pick the " +
        "top merge (count desc, pair asc), APPLY it (left-to-right " +
        "non-overlapping, whole-symbol anchored), recount, merge again " +
        "— then the recounted top-10 pair table over the merged " +
        "inventory, hash-matched against a full SQL replay of both " +
        "iterations. Gates the iterative WIRING of the tokenizer build " +
        "(what t19's single step couldn't) — the v05c precedent. Each " +
        "iteration is one vocabulary-sized hash agg + a one-row driver " +
        "collect; the corpus is touched once (the word-frequency " +
        "groupBy).",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        val (encoded, _) = graft.operators.BpeTrainer.fit(words, iterations = 2)
        graft.operators.BpeTrainer.pairCounts(encoded)
          .orderBy(col("n_occurrences").desc, col("pair").asc)
          .limit(10)
      },
      Some(s"""
        WITH ${BpeSql.UpToE2},
        p3 AS (
          SELECT pair, sum(wc) AS cnt FROM (
            SELECT wc, unnest(list_transform(range(len(syms) - 1),
                              i -> syms[i + 1] || ' ' || syms[i + 2])) AS pair
            FROM (SELECT wc, string_split(substr(enc, 2, length(enc) - 2),
                                          chr(2) || chr(1)) AS syms FROM e2))
          GROUP BY 1)
        SELECT pair, CAST(cnt AS BIGINT) AS n_occurrences
        FROM p3 ORDER BY n_occurrences DESC, pair ASC LIMIT 10""")),

    // ----- tokenizer APPLICATION: encode the corpus with the trained vocab --------
    Q(
      "t19c_bpe_tokenize",
      "Tokenizer APPLICATION (the production half t19/t19b's build " +
        "feeds): encode the whole corpus with the 2-merge vocabulary " +
        "BpeTrainer.fit trains, via the scale shape - each DISTINCT " +
        "word is encoded ONCE (vocabulary-sized compute; a 50k-merge " +
        "chained replace would be planner-infeasible over the corpus) " +
        "and the doc word stream joins that word->n_tokens table. " +
        "Output per doc: word count + BPE token count under the " +
        "trained merges. The oracle replays train AND apply (the " +
        "shared BpeSql chain's e2 IS the encoded vocabulary), so the " +
        "hash breaks if either the merge selection or the application " +
        "semantics drift cross-engine.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val words = docs
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        val (_, merges) = graft.operators.BpeTrainer.fit(words, iterations = 2)
        val vocab = words.select(col("w"),
          graft.operators.BpeTrainer.tokenCount(
            graft.operators.BpeTrainer.applyMerges(col("w"), merges))
            .cast("long").as("n_toks"))
        docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .join(vocab, Seq("w"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_tokens"))
      },
      Some(s"""
        WITH ${BpeSql.UpToE2},
        vocab AS (
          SELECT w, CAST(len(string_split(substr(enc, 2, length(enc) - 2),
                                          chr(2) || chr(1))) AS BIGINT) AS n_toks
          FROM e2),
        dw AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents)
        SELECT dw.doc_id, count(*) AS n_words,
               CAST(sum(v.n_toks) AS BIGINT) AS n_tokens
        FROM dw JOIN vocab v USING (w)
        WHERE length(dw.w) >= 2
        GROUP BY 1""")),

    // ----- the composed corpus-prep pipeline ------------------------------------
    Q(
      "t20_corpus_pipeline",
      "The END-TO-END corpus-prep DAG in one gated query: t16's quality " +
        "cascade -> d01's exact dedup (keep the min-id doc per " +
        "normalized hash) -> t05's deterministic split -> per (split, " +
        "lang) doc/token counts. Each stage reuses the EXACT recipe its " +
        "standalone query gates, so this proves the operators compose " +
        "— the thing a real pipeline does — under one cross-engine " +
        "hash. All integer outputs; the only shuffles are the dedup " +
        "groupBy and the final rollup.",
      (s, d) => {
        // metric cascade via the t16b NATIVE expressions (r18): same
        // toks/chars/stops/g_total/g_dist values from token_stats +
        // gram_stats — whole-stage codegen CSE dedups the repeated
        // struct-field references, where the composed interpreted
        // HOFs re-split the text per reference
        graft.plans.TokenStats.register(s)
        graft.plans.GramStats.register(s)
        val stopCsv = StopWords.mkString(",")
        val m = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("text"),
            expr(s"token_stats(text, '$stopCsv')").as("ts"),
            expr("gram_stats(text)").as("gs"))
          .select(col("doc_id"), col("lang"), col("text"),
            col("ts.n_tokens").as("toks"),
            col("ts.sum_wlen").as("chars"),
            col("ts.n_stop").as("stops"),
            col("gs.g_total").as("g_total"),
            col("gs.g_dist").as("g_dist"))
        // No filter below the window: the keep decision is a COLUMN,
        // dedup picks the min KEPT id per hash inside the window
        // frame, and the only filter sits above the Window — a
        // barrier predicate pushdown cannot penetrate. Also:
        // window-min instead of a groupBy+join-back, so the cascade
        // subtree exists once in the plan (the j08 lesson).
        val flagged = m.select(col("doc_id"), col("lang"), col("text"), col("toks"),
          (!(col("toks") < 16) &&
           !(col("chars") * 10 < col("toks") * 42 || col("chars") * 10 > col("toks") * 50) &&
           !(col("stops") * 100 < col("toks")) &&
           !((col("g_total") - col("g_dist")) * 50 > col("g_total"))).as("kept"))
        // Dropped docs skip the regexp+md5 AND get a UNIQUE h ("d:" + id):
        // a shared null/constant h would funnel every dropped doc into ONE
        // hash partition — a single-task window sort at exactly the scale
        // where the gate drops most of the corpus. kept is referenced
        // twice, which stops CollapseProject from inlining the metric
        // cascade into the when.
        val scored = flagged.select(col("doc_id"), col("lang"), col("toks"),
          when(col("kept"),
            concat(lit("k:"),
              md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))))
            .otherwise(concat(lit("d:"), col("doc_id").cast("string"))).as("h"),
          col("kept"))
        val survivors = scored
          .withColumn("__min",
            min(when(col("kept"), col("doc_id")))
              .over(Window.partitionBy(col("h"))))
          .filter(col("kept") && col("doc_id") === col("__min"))
        val b = substring(md5(col("doc_id").cast("string")), 1, 2)
        survivors
          .select(col("lang"), col("toks"),
            when(b < "e6", "train").when(b < "f6", "val")
              .otherwise("test").as("split"))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      },
      Some(s"""
        WITH w AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws
                   FROM documents),
        m AS (SELECT doc_id, lang, text,
                     CAST(len(ws) AS BIGINT) AS toks,
                     CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS chars,
                     CAST(len(list_filter(ws, x -> x IN (${StopWords.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS stops,
                     CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS g_total,
                     CAST(len(list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
                       i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))) AS BIGINT) AS g_dist
              FROM w),
        kept AS (SELECT doc_id, lang, text, toks FROM m
                 WHERE NOT (toks < 16)
                   AND NOT (chars * 10 < toks * 42 OR chars * 10 > toks * 50)
                   AND NOT (stops * 100 < toks)
                   AND NOT ((g_total - g_dist) * 50 > g_total)),
        hs AS (SELECT doc_id, lang, toks,
                      md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
               FROM kept),
        canon AS (SELECT h, min(doc_id) AS doc_id FROM hs GROUP BY 1),
        surv AS (SELECT x.doc_id, x.lang, x.toks
                 FROM hs x JOIN canon c ON x.h = c.h AND x.doc_id = c.doc_id),
        sp AS (SELECT lang, toks,
                      CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
                           WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f6' THEN 'val'
                           ELSE 'test' END AS split
               FROM surv)
        SELECT split, lang, count(*) AS n_docs,
               CAST(sum(toks) AS BIGINT) AS n_tokens
        FROM sp GROUP BY 1, 2""")),

    // ----- exact dedup ---------------------------------------------------------
    Q(
      "d01_exact_dedup",
      "Exact dedup via normalized content hash (hash-groupBy): lowercase " +
        "+ whitespace-collapse + md5, one group row per distinct content " +
        "with the canonical (min) doc id — the first stage of any " +
        "training-data dedup cascade.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.select(col("doc_id"),
            md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("h"))
          .groupBy(col("h"))
          .agg(
            count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("canonical_doc"),
            max(col("doc_id")).as("max_doc"))
      },
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
               count(*) AS n_docs, min(doc_id) AS canonical_doc,
               max(doc_id) AS max_doc
        FROM documents GROUP BY 1""")),

    // ----- MinHash + LSH near-dup candidates ------------------------------------
    Q(
      "d02_minhash_lsh",
      s"MinHash+LSH near-dup detection: word 4-shingles -> $K seeded-md5 " +
        s"minhash components -> $Bands bands -> equi-join on band hash -> " +
        "candidate pairs with estimated Jaccard. The join key is " +
        "(band, band_hash) so candidate generation never goes n².",
      (s, d) => candidatePairsFrom(s, signatures(s, d)),
      Some(s"""
        $oracleLshCtes
        SELECT p.doc_a, p.doc_b,
               CAST($oracleNMatch AS BIGINT) AS n_match,
               round(($oracleNMatch) / ${K}.0, 4) AS est_jaccard
        FROM pairs p JOIN sig sa ON p.doc_a = sa.doc_id
                     JOIN sig sb ON p.doc_b = sb.doc_id""")),

    // ----- near-dup CLUSTERS: connected components over LSH pairs ---------------
    Q(
      "d05_dup_clusters",
      "Duplicate-group clustering: connected components over the LSH " +
        "candidate pairs (graft.operators.ConnectedComponents min-label " +
        "propagation) — the stage that turns pairwise similarity into a " +
        "keep-one-per-group dedup decision. Hash-matched against a " +
        "DuckDB recursive-CTE transitive closure.",
      (s, d) => {
        val pairs = candidatePairsFrom(s, signatures(s, d))
          .select(col("doc_a"), col("doc_b"))
        graft.operators.ConnectedComponents.minLabel(pairs, "doc_a", "doc_b")
          .select(col("id").as("doc_id"), col("component"))
      },
      Some(s"""
        ${oracleLshCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
        edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
        SELECT s AS doc_id, least(s, min(d)) AS component
        FROM reach GROUP BY s""")),

    // ----- keep-one-per-group dedup emit ----------------------------------------
    Q(
      "d06_dedup_canonical",
      "The dedup cascade's final emit: every document resolves to its " +
        "duplicate-cluster canonical (min doc_id via the d05 connected " +
        "components; docs in no candidate pair are their own canonical) " +
        "and the corpus rolls up per-language survivor stats — i.e. " +
        "what actually ships to tokenization. Cluster state is " +
        "pair-bounded (LSH candidates only), never corpus-bounded, and " +
        "the canonical join back to the corpus is a plain equi-join on " +
        "doc_id.",
      (s, d) => {
        val pairs = candidatePairsFrom(s, signatures(s, d))
          .select(col("doc_a"), col("doc_b"))
        val cc = graft.operators.ConnectedComponents.minLabel(pairs, "doc_a", "doc_b")
          .select(col("id").as("doc_id"), col("component"))
        Tables.documents(s, d)
          .join(cc, Seq("doc_id"), "left")
          .withColumn("canonical", coalesce(col("component"), col("doc_id")))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") =!= col("canonical"), 1L).otherwise(0L)).as("n_dropped"),
            sum(when(col("doc_id") === col("canonical"), col("n_chars")).otherwise(0L))
              .as("kept_chars"))
      },
      Some(s"""
        ${oracleLshCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
        edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        comp AS (SELECT s AS doc_id, least(s, min(d)) AS component
                 FROM reach GROUP BY s)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN c.component IS NOT NULL AND c.component <> dd.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN c.component IS NULL OR c.component = dd.doc_id
                             THEN dd.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        FROM documents dd LEFT JOIN comp c ON c.doc_id = dd.doc_id
        GROUP BY 1""")),

    // ----- line-level boilerplate dedup -----------------------------------------
    Q(
      "d07_line_dedup",
      "Line-level boilerplate removal (the CCNet/RefinedWeb pass that " +
        "strips headers/footers repeated across a crawl): documents " +
        "segment into fixed 3-word windows (the line proxy — the test " +
        "corpus has no newlines), a segment seen in >= 3 DISTINCT docs " +
        "is boilerplate, and each doc reports total vs boilerplate " +
        "segment counts. Two-pass corpus-stats-then-annotate shape " +
        "(same as t11): the boilerplate set is bounded by repetition, " +
        "not corpus size, so the annotate join broadcasts; segment " +
        "explode is corpus-linear, never pairwise.",
      (s, d) => {
        val W = 3
        val segs = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(0, CAST(floor((size(ws) - 1) / $W) AS INT)), " +
              s"i -> concat_ws(' ', slice(ws, i * $W + 1, $W)))")).as("seg"))
        val boiler = segs.select(col("doc_id"), col("seg")).distinct()
          .groupBy(col("seg")).agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 3).select(col("seg"))
        val total = segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segs"))
        val flagged = segs.join(boiler, Seq("seg"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
        total.join(flagged, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_segs"),
            coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      },
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        segs AS (SELECT doc_id, array_to_string(ws[i*3+1 : i*3+3], ' ') AS seg
                 FROM (SELECT doc_id, ws,
                              unnest(range(CAST(floor((len(ws) - 1) / 3) AS BIGINT) + 1)) AS i
                       FROM w)),
        boiler AS (SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM segs)
                   GROUP BY seg HAVING count(*) >= 3),
        tot AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY 1),
        nb AS (SELECT doc_id, count(*) AS n_boiler
               FROM segs SEMI JOIN boiler USING (seg) GROUP BY 1)
        SELECT t.doc_id, t.n_segs,
               CAST(coalesce(nb.n_boiler, 0) AS BIGINT) AS n_boiler
        FROM tot t LEFT JOIN nb ON t.doc_id = nb.doc_id""")),

    // ----- exact n-gram Jaccard verification -------------------------------------
    Q(
      "d04_ngram_jaccard",
      "Exact n-gram Jaccard on the LSH candidates (the verify stage of " +
        "the dedup cascade): distinct-shingle-set intersection/union per " +
        "candidate pair. Exact work is bounded by candidate volume, not " +
        "corpus size.",
      (s, d) => {
        // the distinct-shingle set feeds signatures, sizes and the
        // intersection join; recompute + AQE exchange reuse beats
        // caching here (see candidatePairsFrom scale note)
        val sh = shingles(s, d).distinct()
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        val pairs = candidatePairsFrom(s, signatures(s, d))
          .select(col("doc_a"), col("doc_b"))
        val inter = pairs
          .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
          .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        pairs
          .join(inter, Seq("doc_a", "doc_b"), "left")
          .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
          .select(
            col("doc_a"), col("doc_b"),
            coalesce(col("n_inter"), lit(0L)).as("n_inter"),
            (col("sz_a") + col("sz_b") - coalesce(col("n_inter"), lit(0L))).as("n_union"))
          .withColumn("jaccard",
            round(col("n_inter") * lit(1.0) / col("n_union"), 4))
      },
      Some(s"""
        $oracleLshCtes,
        shd AS (SELECT DISTINCT doc_id, sh FROM sh),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY 1),
        inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
                  FROM pairs p
                  JOIN shd a ON a.doc_id = p.doc_a
                  JOIN shd b ON b.doc_id = p.doc_b AND b.sh = a.sh
                  GROUP BY 1, 2)
        SELECT p.doc_a, p.doc_b,
               CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
               CAST(za.sz + zb.sz - coalesce(i.n_inter, 0) AS BIGINT) AS n_union,
               round(coalesce(i.n_inter, 0) * 1.0
                     / (za.sz + zb.sz - coalesce(i.n_inter, 0)), 4) AS jaccard
        FROM pairs p
        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        JOIN sizes za ON za.doc_id = p.doc_a
        JOIN sizes zb ON zb.doc_id = p.doc_b""")),

    Q(
      "d08_setsim_prefix_join",
      "EXACT-threshold set-similarity join via prefix filtering " +
        "(Chaudhuri et al. ICDE'06; Xiao et al. WWW'08 PPJoin): all " +
        "pairs with shingle-set Jaccard >= 0.5, found WITHOUT LSH's " +
        "probabilistic recall — where d02/d04 find most near-dup " +
        "pairs, this finds ALL of them above the threshold, the " +
        "contract compliance-grade dedup needs. The filter: order " +
        "every doc's shingles by GLOBAL rarity (df asc, shingle asc " +
        "— one Heap's-law-bounded df table, the frozen artifact at " +
        "scale), keep each doc's first sz - ceil(0.5*sz) + 1 as its " +
        "PREFIX; any pair with J >= 0.5 must share a prefix shingle " +
        "(if the prefixes are disjoint, the overlap is at most " +
        "ceil(0.5*sz) - 1 < required), so the equi-join on prefix " +
        "shingles is a LOSSLESS candidate generator — and the gate " +
        "PROVES it: the oracle is the BRUTE-FORCE all-pairs " +
        "computation, so the hash matches only if prefix filtering " +
        "lost nothing. Anti-skew is inherent: common shingles fall " +
        "OUT of prefixes (rarest-first), so the join key " +
        "distribution self-flattens where a naive token join would " +
        "need j12's salting. Verification is d04's candidate-" +
        "bounded exact intersection; the threshold compares in " +
        "INTEGERS (3c >= sa+sb <=> J >= 0.5), no float boundary. " +
        "Measured at the gate SF: 124,750 possible pairs -> 402 " +
        "share any shingle -> 25 prefix candidates -> all 25 pass " +
        "the threshold (zero false candidates: the rarity order " +
        "makes the prefix join nearly tight, not just lossless). " +
        "Spark shape: df agg + per-doc sort_array/slice (no window), " +
        "one prefix self-join, one verify join.",
      (s, d) => setSimPrefixJoin(shingles(s, d).distinct()),
      Some("""
        WITH dt AS (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents),
        sh0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                         || ' ' || w[i+3] AS sh
                FROM (SELECT doc_id, w, unnest(range(1, len(w) - 2)) AS i
                      FROM dt WHERE len(w) >= 4)),
        shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY 1),
        inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         count(*) AS c
                  FROM shd a JOIN shd b
                    ON a.sh = b.sh AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT i.doc_a, i.doc_b, CAST(i.c AS BIGINT) AS n_inter,
               CAST(za.sz + zb.sz - i.c AS BIGINT) AS n_union,
               round(i.c * 1.0 / (za.sz + zb.sz - i.c), 4) AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.doc_a
        JOIN sizes zb ON zb.doc_id = i.doc_b
        WHERE i.c * 3 >= za.sz + zb.sz""")),

    // ----- SimHash buckets --------------------------------------------------------
    Q(
      "d03_simhash",
      "16-bit SimHash near-dup buckets: per token, 16 bits from md5 hex " +
        "nibble high-bits; fingerprint bit j = sign of the +/-1 vote sum; " +
        "docs grouped by fingerprint (bucket stats, not n² pairs — " +
        "banding would extend this to hamming>0 at scale).",
      (s, d) => {
        // scan spread (r18, guide §2.5): 16 md5-substring votes per
        // token otherwise evaluate inside the one-split scan task
        val docs = Tables.spread(Tables.documents(s, d)
          .select(col("doc_id"), col("text")))
        val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        // bit j vote: +1 if the j-th hex nibble of md5(tok) has its high
        // bit set (nibble in 8..f), else -1
        val votes = (0 until 16).map { j =>
          sum(when(substring(md5(col("tok")), j + 1, 1).isin(
            "8", "9", "a", "b", "c", "d", "e", "f"), 1L).otherwise(-1L))
            .as(s"v$j")
        }
        val agg = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
        val fp = (0 until 16)
          .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _)
        agg.select(col("doc_id"), fp.as("simhash"))
          .groupBy(col("simhash"))
          .agg(
            count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("canonical_doc"))
      },
      Some(SimHashSql)),

    // ----- d03 as a native expression: same oracle, no per-token shuffle -------
    Q(
      "d03b_simhash_native",
      "d03 via ONE codegen'd integer-only expression " +
        "(graft.plans.SimHash16): the 16 vote counters accumulate per " +
        "row inside the scan — the composed form shuffles one row per " +
        "corpus token into a 16-aggregate groupBy. Same DuckDB oracle.",
      (s, d) => {
        graft.plans.SimHash16.register(s)
        Tables.documents(s, d)
          .select(col("doc_id"), expr("simhash16(text)").as("simhash"))
          .groupBy(col("simhash"))
          .agg(
            count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("canonical_doc"))
      },
      Some(SimHashSql)),

    // ----- training-sample provenance / lineage ----------------------------------
    Q(
      "t21_sample_provenance",
      "Training-sample provenance (the data-governance op behind " +
        "'which document produced this sample?'): every chunk from " +
        "t12's window recipe carries a deterministic sample_id = " +
        "sha256(doc_id:chunk_idx), and the audit proves the id space " +
        "is collision-free (n_samples == n_unique_samples) per " +
        "(source, lang) with doc-level lineage counts. At 100 TB the " +
        "(doc_id, chunk_idx, sample_id) mapping is a write-once " +
        "partitioned table; this query gates the id math and the " +
        "rollup — chunk expansion is zero-shuffle, the audit is one " +
        "map-side-combined agg over ids, never payload bytes.",
      (s, d) => {
        val W = 120
        val S = 90
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang"),
            greatest(ceil((length(col("text")) - W) / lit(S.toDouble)), lit(0))
              .cast("int").as("last_idx"))
          .select(col("doc_id"), col("source"), col("lang"),
            explode(expr("sequence(0, last_idx)")).as("chunk_idx"))
          .select(col("source"), col("lang"), col("doc_id"),
            sha2(concat(col("doc_id").cast("string"), lit(":"),
              col("chunk_idx").cast("string")), 256).as("sample_id"))
          .groupBy(col("source"), col("lang"))
          .agg(
            count(lit(1)).as("n_samples"),
            countDistinct(col("doc_id")).as("n_docs"),
            countDistinct(col("sample_id")).as("n_unique_samples"),
            min(col("sample_id")).as("first_sample_id"))
      },
      Some("""
        WITH idx AS (
          SELECT doc_id, source, lang,
                 greatest(CAST(ceil((length(text) - 120) / 90.0) AS BIGINT), 0) AS last_idx
          FROM documents),
        ch AS (
          SELECT doc_id, source, lang,
                 unnest(range(last_idx + 1)) AS chunk_idx
          FROM idx),
        ids AS (
          SELECT source, lang, doc_id,
                 sha256(CAST(doc_id AS VARCHAR) || ':' ||
                        CAST(chunk_idx AS VARCHAR)) AS sample_id
          FROM ch)
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT sample_id) AS BIGINT) AS n_unique_samples,
               min(sample_id) AS first_sample_id
        FROM ids GROUP BY 1, 2""")),

    // ----- leakage-safe (cluster-aware) train/val/test split ---------------------
    Q(
      "t22_leakage_safe_split",
      "Dedup-cluster-aware train/val/test split: t05's per-doc hash " +
        "split leaks — two near-duplicate documents hash to different " +
        "sides, so eval scores memorization. Here every document " +
        "resolves to its duplicate-cluster canonical first (LSH " +
        "candidate pairs → connected components, the d05/d06 stage; " +
        "unclustered docs are their own canonical) and the md5 split " +
        "keys on the CANONICAL, pinning whole clusters to one side by " +
        "construction. Scale shape: cluster state is pair-bounded (LSH " +
        "candidates only), the canonical resolve is one equi-join on " +
        "doc_id, and the split itself stays a pure per-row map — the " +
        "only cost over t05 is the dedup graph the pipeline already " +
        "builds for d06.",
      (s, d) => {
        val pairs = candidatePairsFrom(s, signatures(s, d))
          .select(col("doc_a"), col("doc_b"))
        val cc = graft.operators.ConnectedComponents.minLabel(pairs, "doc_a", "doc_b")
          .select(col("id").as("doc_id"), col("component"))
        val withCanon = Tables.documents(s, d)
          .join(cc, Seq("doc_id"), "left")
          .withColumn("canonical", coalesce(col("component"), col("doc_id")))
        val b = substring(md5(col("canonical").cast("string")), 1, 2)
        withCanon
          .select(col("doc_id"), col("canonical"),
            when(b < "e6", "train").when(b < "f6", "val")
              .otherwise("test").as("split"))
          .groupBy(col("split"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("canonical")).as("n_groups"),
            sum(when(col("doc_id") =!= col("canonical"), 1L).otherwise(0L))
              .as("n_dup_members"))
      },
      Some(s"""
        ${oracleLshCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
        edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        comp AS (SELECT s AS doc_id, least(s, min(d)) AS component
                 FROM reach GROUP BY s),
        canon AS (SELECT dd.doc_id,
                         coalesce(c.component, dd.doc_id) AS canonical
                  FROM documents dd LEFT JOIN comp c ON dd.doc_id = c.doc_id)
        SELECT CASE WHEN substr(md5(CAST(canonical AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
                    WHEN substr(md5(CAST(canonical AS VARCHAR)), 1, 2) < 'f6' THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(count(DISTINCT canonical) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN doc_id <> canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_members
        FROM canon GROUP BY 1""")),

    // ----- temperature-scaled source rebalancing ---------------------------------
    Q(
      "t23_temperature_mix",
      "Temperature-scaled source rebalancing (the DoReMi/multilingual " +
        "α-sampling op): per-source quotas for a half-corpus budget are " +
        "proportional to sqrt(count) — α=0.5 flattens the source " +
        "distribution so head domains shrink and tail domains survive — " +
        "and each quota is filled by the t14 deterministic md5 lottery. " +
        "Cross-engine exactness by construction: sqrt is the ONE " +
        "float op (IEEE-754 correctly rounded, bit-identical in JVM and " +
        "DuckDB), immediately floored into integer milli-weights, and " +
        "every downstream step (budget, quota, rank cut) is integer " +
        "division — no float summation order anywhere. Scale shape: " +
        "counts/weights/quotas are a source-cardinality dim joined back " +
        "by broadcast; the lottery is the keyed rank the t14 cap uses — " +
        "no global ordering.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_candidates"))
        val weights = counts.withColumn("w",
          floor(sqrt(col("n_candidates").cast("double")) * 1000).cast("long"))
        val tot = weights.agg(
          sum(col("n_candidates")).as("n_total"), sum(col("w")).as("w_total"))
        val quota = weights.crossJoin(broadcast(tot))
          .withColumn("n_quota",
            least(col("n_candidates"),
              expr("((n_total div 2) * w) div w_total")))
          .select(col("source"), col("n_candidates"), col("n_quota"))
        val lottery = docs.select(col("source"), col("doc_id"),
          md5(concat(col("source"), lit("|"), col("doc_id").cast("string"))).as("h"))
        val rankW = Window.partitionBy(col("source"))
          .orderBy(col("h").asc, col("doc_id").asc)
        val kept = lottery.withColumn("rn", row_number().over(rankW))
          .join(broadcast(quota), Seq("source"))
          .filter(col("rn") <= col("n_quota"))
        val keptAgg = kept.groupBy(col("source")).agg(
          count(lit(1)).as("n_kept_raw"), min(col("h")).as("first_kept_hash"))
        // left join + coalesce(0): a zero-quota source must still report,
        // matching the oracle's LEFT JOIN (count() = 0, min = NULL)
        quota.join(keptAgg, Seq("source"), "left")
          .select(col("source"), col("n_candidates"), col("n_quota"),
            coalesce(col("n_kept_raw"), lit(0L)).as("n_kept"),
            col("first_kept_hash"))
      },
      Some("""
        WITH c AS (SELECT source, count(*) AS n_candidates FROM documents GROUP BY 1),
        w AS (SELECT source, n_candidates,
                     CAST(floor(sqrt(CAST(n_candidates AS DOUBLE)) * 1000) AS BIGINT) AS w
              FROM c),
        t AS (SELECT CAST(sum(n_candidates) AS BIGINT) AS n_total,
                     CAST(sum(w) AS BIGINT) AS w_total FROM w),
        q AS (SELECT source, n_candidates,
                     least(n_candidates, ((t.n_total // 2) * w) // t.w_total) AS n_quota
              FROM w, t),
        r AS (SELECT source, doc_id,
                     md5(source || '|' || CAST(doc_id AS VARCHAR)) AS h,
                     row_number() OVER (PARTITION BY source
                       ORDER BY md5(source || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents),
        k AS (SELECT r.source, r.h FROM r JOIN q USING (source) WHERE r.rn <= q.n_quota)
        SELECT q.source, q.n_candidates, q.n_quota,
               CAST(count(k.h) AS BIGINT) AS n_kept,
               min(k.h) AS first_kept_hash
        FROM q LEFT JOIN k ON q.source = k.source
        GROUP BY 1, 2, 3""")),

    // ----- deterministic weighted sampling -----------------------------------------
    Q(
      "t26_weighted_sample",
      "Weighted sampling without replacement, DETERMINISTIC (the " +
        "quality-weighted corpus subsample: longer docs proportionally " +
        "likelier, same winners on any engine/cluster/day): the " +
        "Efraimidis-Spirakis one-pass scheme with the RNG replaced by " +
        "an md5-derived uniform — u = (first 12 md5 hex chars + 1) / " +
        "(2^48 + 1), key = ln(u)/w, keep the top-20 keys. E-S proves " +
        "P(selection) proportional to w with a SINGLE pass and a " +
        "k-bounded heap (TakeOrderedAndProject here — no global " +
        "sort), which is what makes weighted subsampling tractable at " +
        "100 TB: no per-item RNG state, no rejection loop, " +
        "restart-safe. 48 bits keeps the integer double-exact in both " +
        "engines.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.select(col("doc_id"), col("n_chars"),
            (conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
              .cast("long") + 1L).as("v"))
          .select(col("doc_id"), col("n_chars"),
            // round BEFORE the top-k cut: ln() is libm-dependent, so an
            // unrounded rank-20 boundary could flip across engines; 12dp +
            // doc_id tiebreak makes the cut point drift-free (t17/gr02
            // convention)
            round(log(col("v").cast("double") / lit(281474976710657.0))
              / col("n_chars"), 12).as("key"))
          .orderBy(col("key").desc, col("doc_id").asc)
          .limit(20)
      },
      Some("""
        WITH k AS (
          SELECT doc_id, n_chars,
                 round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT + 1 AS DOUBLE)
                    / 281474976710657.0) / n_chars, 12) AS key
          FROM documents)
        SELECT doc_id, n_chars, key
        FROM k ORDER BY key DESC, doc_id ASC LIMIT 20""")),

    // ----- deterministic weighted sampling, per source ------------------------------
    Q(
      "t26b_weighted_sample_per_key",
      "t26's Efraimidis-Spirakis weighted sampling applied PER SOURCE " +
        "(the real corpus use case: per-source quotas, not one global " +
        "top-k — sample 5 docs from every crawl source with " +
        "P(selection) proportional to length). Same md5-derived " +
        "deterministic uniforms and 12dp-rounded keys (drift-free " +
        "cut), but the cut runs through the custom TopKPerKeyExec " +
        "(row_number mode) instead of a window: the map side emits at " +
        "most k rows per (source, partition), so the shuffle carries " +
        "k*parts rows per source instead of the whole corpus, and " +
        "nothing is globally sorted — the per-key analog of t26's " +
        "TakeOrderedAndProject, and the operator's first gate under a " +
        "float (double) order column.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keyed = docs.select(col("source"), col("doc_id"), col("n_chars"),
            (conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
              .cast("long") + 1L).as("v"))
          .select(col("source"), col("doc_id"), col("n_chars"),
            round(log(col("v").cast("double") / lit(281474976710657.0))
              / col("n_chars"), 12).as("key"))
        graft.plans.TopKPerKey.topK(keyed, Seq("source"),
          Seq(col("key").desc, col("doc_id").asc), 5)
      },
      Some("""
        WITH k AS (
          SELECT source, doc_id, n_chars,
                 round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT + 1 AS DOUBLE)
                    / 281474976710657.0) / n_chars, 12) AS key
          FROM documents)
        SELECT source, doc_id, n_chars, key FROM (
          SELECT *, row_number() OVER (PARTITION BY source
                      ORDER BY key DESC, doc_id ASC) AS rn
          FROM k) t
        WHERE rn <= 5""")),

    // ----- benchmark decontamination ---------------------------------------------
    Q(
      "t28_contamination",
      "Benchmark decontamination scan (the GPT-3/PaLM methodology: an " +
        "eval document is contaminated when it shares any 8-word-gram " +
        "with the training set): docs split eval/train by the t05 md5 " +
        "bucket convention (~10% eval, deterministic), 8-grams " +
        "exploded per side, and one semi-join marks every eval gram " +
        "that also occurs in train. Output per eval doc: distinct " +
        "grams, contaminated distinct grams, the drop flag. Scale: " +
        "the join carries (gram, doc) pairs with the train side " +
        "pre-distincted — at 100 TB you join on a 64-bit gram hash " +
        "bucketed by hash prefix instead of the string (identical " +
        "plan shape); this gate joins the strings so both engines " +
        "agree byte-for-byte.",
      (s, d) => {
        val grams = contaminationGrams(s, d)
        val evalG = grams.filter(col("is_eval")).select(col("doc_id"), col("g"))
        val trainG = grams.filter(!col("is_eval")).select(col("g")).distinct()
        val tot = evalG.groupBy(col("doc_id"))
          .agg(countDistinct(col("g")).as("n_grams"))
        val con = evalG.join(trainG, Seq("g"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("g")).as("nc"))
        tot.join(con, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("nc"), lit(0L)).as("n_contaminated"),
            (coalesce(col("nc"), lit(0L)) > 0).as("contaminated"))
      },
      Some(DecontaminationSql)),

    // ----- decontamination at scale: hash grams, not strings ---------------------
    Q(
      "t28b_contamination_hashed",
      "t28's decontamination scan in its 100-TB form (the scale path " +
        "t28's own doc names): the semi-join carries a 48-bit " +
        "md5-prefix HASH of each 8-gram (the t05/t26 deterministic-" +
        "hash convention; a production engine would swap in xxhash64) " +
        "instead of the ~50-byte gram string, so the train-side " +
        "distinct and the eval-train join shuffle 8-byte longs - the " +
        "plan shape is identical to t28, only the key width changes. " +
        "Contamination counts are per distinct gram HASH; a 48-bit " +
        "collision could merge two grams, but both engines hash " +
        "identically so the gate is exact cross-engine, and at 48 " +
        "bits the birthday term is negligible at the gate SF. At " +
        "100 TB the train grams are written bucketed by hash prefix " +
        "and the eval side shuffles into the same buckets - the " +
        "BucketingSpec-pinned layout drops the train-side exchange " +
        "entirely.",
      (s, d) => {
        // exchange-reuse point (the v07/signatures trick): three
        // consumers read the gram frame (train distinct, eval tot,
        // eval semi-join) — without a shared exchange each would
        // re-run the explode+md5 pipeline, and at 10x data the
        // triple hashing made this SLOWER than string t28 (measured
        // 10.2x vs 6.4x); with it the grams are hashed once and
        // every consumer reads the reused long-keyed shuffle
        val grams = gramHashes(Tables.documents(s, d)).repartition(col("h"))
        val evalG = grams.filter(col("is_eval")).select(col("doc_id"), col("h"))
        val trainH = grams.filter(!col("is_eval")).select(col("h")).distinct()
        val tot = evalG.groupBy(col("doc_id"))
          .agg(countDistinct(col("h")).as("n_grams"))
        val con = evalG.join(trainH, Seq("h"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("h")).as("nc"))
        tot.join(con, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("nc"), lit(0L)).as("n_contaminated"),
            (coalesce(col("nc"), lit(0L)) > 0).as("contaminated"))
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT % 10 = 0 AS is_eval
                   FROM documents),
        g AS (SELECT doc_id, is_eval,
                     ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 12))::UBIGINT AS h
              FROM (SELECT doc_id, is_eval, w, unnest(range(1, len(w) - 6)) AS i
                    FROM t WHERE len(w) >= 8)),
        ev AS (SELECT doc_id, h FROM g WHERE is_eval),
        tr AS (SELECT DISTINCT h FROM g WHERE NOT is_eval),
        tot AS (SELECT doc_id, count(DISTINCT h) AS n_grams FROM ev GROUP BY 1),
        con AS (SELECT ev.doc_id, count(DISTINCT ev.h) AS nc
                FROM ev JOIN tr ON ev.h = tr.h GROUP BY 1)
        SELECT t.doc_id, t.n_grams,
               coalesce(c.nc, 0) AS n_contaminated,
               coalesce(c.nc, 0) > 0 AS contaminated
        FROM tot t LEFT JOIN con c ON t.doc_id = c.doc_id""")),

    // ----- BM25 retrieval scoring ------------------------------------------------
    Q(
      "t24_bm25_scoring",
      "BM25 document scoring for a fixed 3-term query (the retrieval " +
        "pass a RAG/dedup pipeline runs over a corpus): standard " +
        "Robertson idf = ln((N - df + 0.5)/(df + 0.5) + 1), tf " +
        "saturation k1=1.2, length normalization b=0.75 against the " +
        "corpus mean length. Float determinism: per-term tfs land in " +
        "FIXED pivot columns (sum(when), never an agg over terms), so " +
        "the 3-term score sum evaluates in expression order — no " +
        "summation-order drift — and only the final score rounds. " +
        "Top 20 via TakeOrderedAndProject. The corpus is tokenized " +
        "ONCE: the per-doc (dl, tf1..tf3) frame is eagerly " +
        "localCheckpoint'd (doc-sized, the d05/spine5 precedent — " +
        "exchange reuse can't dedupe these branches because each " +
        "prunes different columns into the shared subtree), and " +
        "N/df/avgdl all derive from it as single-row broadcast sides " +
        "— so the token stream is scanned and shuffled exactly once " +
        "no matter how many corpus statistics BM25 needs. The whole " +
        "recipe lives in bm25Top20/Bm25Sql (one copy), shared with " +
        "v10's lexical retrieval arm.",
      (s, d) => bm25Top20(s, d),
      Some(s"""
        WITH $Bm25Sql
        SELECT doc_id, bm25 FROM bm25_scored
        ORDER BY bm25 DESC, doc_id ASC LIMIT 20""")),

    // ----- per-source distribution drift ------------------------------------------
    Q(
      "t25_source_drift",
      "Corpus-mixture drift monitor: per source, the L-infinity " +
        "distance between the source's unigram distribution and the " +
        "whole-corpus distribution, plus the most-drifted word " +
        "(ties to the lexicographically first word; selected by " +
        "equality-joining back to the per-source max, so both engines " +
        "compare the same bit-identical doubles — no argmax builtin " +
        "variance) and the source's KL(source || corpus) over its " +
        "observed words. L-inf and argmax are order-independent (no " +
        "float-summation nondeterminism); the KL terms quantize to " +
        "integer nano-units before the vocabulary-sized sum (the t31 " +
        "fixed-point convention), so the 4dp rounded KL is exact " +
        "integer math cross-engine. " +
        "Everything aggregates per (source, word) first — shuffle is " +
        "vocabulary-sized, never token-stream-sized.",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
        // one token pass; the (source, word) frame is vocabulary-sized
        // and feeds four derivations that exchange reuse cannot dedupe
        val sw = toks.groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(true)
        val sTot = sw.groupBy(col("source")).agg(sum(col("c")).as("st"))
        val gw = sw.groupBy(col("w")).agg(sum(col("c")).as("g"))
        val gTot = gw.agg(sum(col("g")).as("gt"))
        val joined = sw.join(sTot, Seq("source"))
          .join(broadcast(gw), Seq("w"))
          .crossJoin(broadcast(gTot))
          .select(col("source"), col("w"),
            (col("c").cast("double") / col("st")).as("p"),
            (col("g").cast("double") / col("gt")).as("q"))
        // per-word KL term quantized to integer NANO-units before the
        // vocabulary-sized sum (the t31 fixed-point convention; nano
        // because klterms are ~1e-5, so a micro grid would distort
        // the metric itself): the sum is exact integer math and the
        // 4dp round is bit-identical cross-engine
        val diffs = joined.select(col("source"), col("w"),
          abs(col("p") - col("q")).as("ad"),
          round(col("p") * log(col("p") / col("q")) * 1e9).cast("long")
            .as("klterm"))
        val agg = diffs.groupBy(col("source"))
          .agg(max(col("ad")).as("mad"),
            round(sum(col("klterm")).cast("double") / lit(1e9), 4).as("kl"))
        agg.join(diffs.select(col("source"), col("w"), col("ad")),
            Seq("source"))
          .filter(col("ad") === col("mad"))
          .groupBy(col("source"), col("mad"), col("kl"))
          .agg(min(col("w")).as("top_word"))
          .select(col("source"), round(col("mad"), 6).as("linf"),
            col("top_word"), col("kl"))
      },
      Some("""
        WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
                      FROM documents),
        sw AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
        st AS (SELECT source, sum(c) AS st FROM sw GROUP BY 1),
        gw AS (SELECT w, sum(c) AS g FROM sw GROUP BY 1),
        gt AS (SELECT sum(g) AS gt FROM gw),
        j AS (SELECT sw.source, sw.w,
                     CAST(sw.c AS DOUBLE) / st.st AS p,
                     CAST(gw.g AS DOUBLE) / gt.gt AS q
              FROM sw JOIN st USING (source) JOIN gw USING (w) CROSS JOIN gt),
        d AS (SELECT source, w, abs(p - q) AS ad,
                     CAST(round(p * ln(p / q) * 1000000000) AS BIGINT) AS klterm
              FROM j),
        a AS (SELECT source, max(ad) AS mad,
                     round(CAST(sum(klterm) AS DOUBLE) / 1000000000, 4) AS kl
              FROM d GROUP BY 1)
        SELECT a.source, round(a.mad, 6) AS linf,
               min(d.w) AS top_word, a.kl
        FROM a JOIN d ON a.source = d.source AND d.ad = a.mad
        GROUP BY 1, 2, 4""")),

    // ----- DSIR importance resampling ---------------------------------------------
    Q(
      "t30_dsir_select",
      "DSIR data selection (Xie et al. NeurIPS'23 - importance " +
        "resampling for matching a target domain): score every " +
        "non-English doc by how English-like its unigram statistics " +
        "are, log w_d = sum_b tf_db * (ln p_target(b) - ln p_raw(b)), " +
        "and keep the top 50. The models use the paper's HASHED " +
        "n-gram trick: words hash into 4096 fixed buckets (md5-prefix " +
        "mod, the t05 engine-neutral convention), so the model is a " +
        "constant-size bucket table at ANY corpus size - that, not " +
        "the word-level model, is what ships at 100 TB. Add-1 " +
        "smoothing over the bucket space keeps every log defined. " +
        "Plan shape: (doc, bucket, tf) aggregates BEFORE the model " +
        "join (map-side combine - the t17 lesson), both bucket models " +
        "derive from that one frame, N_t/N_raw ride as broadcast " +
        "scalars, and selection is a TakeOrderedAndProject heap on " +
        "the 4dp-rounded weight (the t24 rank-on-rounded convention, " +
        "id tiebreak) - the corpus token stream is scanned and " +
        "shuffled exactly once.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("w"))
          .select(col("doc_id"), col("lang"),
            (conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long")
              % 4096).as("b"))
        val dtf = toks.groupBy(col("doc_id"), col("lang"), col("b"))
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint(true) // one token pass feeds both models + weights
        val tcnt = dtf.filter(col("lang") === "en")
          .groupBy(col("b")).agg(sum(col("tf")).as("ct"))
        val scnt = dtf.filter(col("lang") =!= "en")
          .groupBy(col("b")).agg(sum(col("tf")).as("cs"))
        val nt = tcnt.agg(sum(col("ct")).as("nt"))
        val ns = scnt.agg(sum(col("cs")).as("ns"))
        val w = dtf.filter(col("lang") =!= "en")
          .join(tcnt, Seq("b"), "left")
          .join(scnt, Seq("b"), "left")
          .crossJoin(broadcast(nt)).crossJoin(broadcast(ns))
          .select(col("doc_id"), col("lang"),
            // per-bucket log-ratio quantized to integer micro-nats
            // before the tf-weighted sum (the t31 fixed-point
            // convention): the doc weight is exact integer math, so
            // the top-50 cut is bit-identical cross-engine
            (col("tf") *
              round((log((coalesce(col("ct"), lit(0L)) + 1) / (col("nt") + 4096)) -
                log((coalesce(col("cs"), lit(0L)) + 1) / (col("ns") + 4096)))
                * 1e6).cast("long"))
              .as("term"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(round(sum(col("term")).cast("double") / lit(1e6), 4)
            .as("dsir_logw"))
        w.orderBy(col("dsir_logw").desc, col("doc_id").asc).limit(50)
          .select(col("doc_id"), col("lang"), col("dsir_logw"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(tok), 1, 6))::UBIGINT % 4096 AS b
          FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
                FROM documents)),
        dtf AS (SELECT doc_id, lang, b, count(*) AS tf
                FROM toks GROUP BY 1, 2, 3),
        tcnt AS (SELECT b, sum(tf) AS ct FROM dtf WHERE lang = 'en' GROUP BY 1),
        scnt AS (SELECT b, sum(tf) AS cs FROM dtf WHERE lang <> 'en' GROUP BY 1),
        nt AS (SELECT sum(ct) AS nt FROM tcnt),
        ns AS (SELECT sum(cs) AS ns FROM scnt),
        w AS (SELECT d.doc_id, d.lang,
                     round(CAST(sum(d.tf *
                             CAST(round((ln((coalesce(t.ct, 0) + 1) / (nt.nt + 4096))
                                       - ln((coalesce(s.cs, 0) + 1) / (ns.ns + 4096)))
                                        * 1000000) AS BIGINT)) AS DOUBLE)
                           / 1000000, 4) AS dsir_logw
              FROM dtf d
              LEFT JOIN tcnt t USING (b)
              LEFT JOIN scnt s USING (b)
              CROSS JOIN nt CROSS JOIN ns
              WHERE d.lang <> 'en'
              GROUP BY 1, 2)
        SELECT doc_id, lang, dsir_logw
        FROM w ORDER BY dsir_logw DESC, doc_id ASC LIMIT 50""")),

    // ----- CCNet perplexity buckets: interpolated bigram LM ----------------------
    Q(
      "t31_bigram_perplexity",
      "CCNet-style perplexity bucketing with a REAL conditional LM " +
        "(Wenzek et al. LREC'20 bucket docs by LM score into head/" +
        "middle/tail and train on the head; t17's unigram score was " +
        "the shape, this is the model): Jelinek-Mercer interpolated " +
        "bigram probability p(w2|w1) = 0.9*c(w1,w2)/c(w1.) + " +
        "0.1*c(w2)/N, doc score = tf-weighted mean log-prob over its " +
        "bigrams, bucket = equal-population-of-distinct-values " +
        "tertile of the 4dp-rounded score (head = highest log-prob = " +
        "lowest perplexity). Plan shape: bigrams build MAP-SIDE from " +
        "the token array (transform over sequence + explode - no " +
        "positional self-join, the corpus is scanned once), (doc, " +
        "bigram, tf) aggregates BEFORE the model joins (the t17 " +
        "map-side-combine lesson), both model tables are Heap's-law " +
        "bounded so AQE picks broadcast vs shuffle, and the tertile " +
        "cut is the a18 two-stage GlobalRank - NO unpartitioned " +
        "window, so the banding survives near-unique scores at any " +
        "corpus size. Determinism: the per-bigram log-prob is " +
        "quantized to integer MICRO-NATS before the tf-weighted " +
        "mean (the gr02 fixed-point convention), so the aggregate " +
        "is exact integer math and the doc score is two IEEE " +
        "divisions of exact integers - the distinct set and band " +
        "edges are bit-identical cross-engine regardless of " +
        "summation order or libm ulp drift in ln(). At 100 TB " +
        "production would " +
        "freeze the model + thresholds from a sample then score " +
        "map-side only; the in-corpus form here is the oracle-" +
        "replayable equivalent.",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
        val long = toks.select(col("doc_id"), explode(col("t")).as("w2"))
        val uni = long.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
        val tot = long.agg(count(lit(1)).as("total"))
        // native bigram expansion (plans/ArrayPairs.consecutivePairs,
        // r18): the composed transform(sequence) was CodegenFallback
        val big = toks.filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(
            graft.plans.ArrayPairs.consecutivePairs(col("t"), "w1", "w2"))
            .as("bg"))
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        val tf = big.groupBy(col("doc_id"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint(true) // one bigram pass feeds both models + scoring
        val c12 = tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c12"))
        val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        val doc = tf
          .join(c12, Seq("w1", "w2")).join(c1, Seq("w1")).join(uni, Seq("w2"))
          .crossJoin(broadcast(tot))
          // fixed-point hardening (the gr02 micro-unit convention): the
          // per-bigram log-prob quantizes to integer micro-nats BEFORE
          // the tf-weighted mean, so the aggregate is exact integer
          // math and the doc score is two IEEE divisions of exact
          // integers — bit-identical cross-engine regardless of
          // summation order or libm ulp differences in ln()
          .withColumn("lpm", round(log(
            lit(0.9) * (col("c12").cast("double") / col("c1")) +
              lit(0.1) * (col("c2").cast("double") / col("total"))) * 1e6)
            .cast("long"))
          .groupBy(col("doc_id"))
          .agg(sum(col("tf")).as("n_bigrams"),
            round(sum(col("tf") * col("lpm")).cast("double") / sum(col("tf"))
              / lit(1e6), 4).as("avg_logprob"))
        val idx = graft.operators.GlobalRank
          .zeroBasedIndex(doc.select(col("avg_logprob")).distinct(), "avg_logprob")
        val nd = idx.agg(count(lit(1)).as("nd"))
        doc.join(idx, Seq("avg_logprob")).crossJoin(broadcast(nd))
          .select(col("doc_id"), col("n_bigrams"), col("avg_logprob"),
            when(floor(col("idx") * 3 / col("nd")) === 2, "head")
              .when(floor(col("idx") * 3 / col("nd")) === 1, "middle")
              .otherwise("tail").as("ppl_bucket"))
      },
      Some("""
        WITH dt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        long AS (SELECT doc_id, unnest(t) AS w2 FROM dt),
        uni AS (SELECT w2, count(*) AS c2 FROM long GROUP BY 1),
        tot AS (SELECT count(*) AS total FROM long),
        big0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                 FROM dt WHERE len(t) >= 2),
        big AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM big0),
        tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM big GROUP BY 1, 2, 3),
        c12 AS (SELECT w1, w2, sum(tf) AS c12 FROM tf GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
        doc AS (SELECT f.doc_id, CAST(sum(f.tf) AS BIGINT) AS n_bigrams,
                       round(CAST(sum(f.tf *
                               CAST(round(ln(CAST(0.9 AS DOUBLE) * (b.c12 / c1.c1)
                                             + CAST(0.1 AS DOUBLE) * (u.c2 / tot.total))
                                          * 1000000) AS BIGINT)) AS DOUBLE)
                             / sum(f.tf) / 1000000, 4) AS avg_logprob
                FROM tf f
                JOIN c12 b ON f.w1 = b.w1 AND f.w2 = b.w2
                JOIN c1 ON f.w1 = c1.w1
                JOIN uni u ON f.w2 = u.w2
                CROSS JOIN tot
                GROUP BY 1),
        dd AS (SELECT avg_logprob, dense_rank() OVER (ORDER BY avg_logprob) - 1 AS idx
               FROM (SELECT DISTINCT avg_logprob FROM doc)),
        nd AS (SELECT count(*) AS nd FROM dd)
        SELECT d.doc_id, d.n_bigrams, d.avg_logprob,
               CASE CAST(floor(dd.idx * 3 / nd.nd) AS INT)
                 WHEN 2 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
               END AS ppl_bucket
        FROM doc d JOIN dd USING (avg_logprob) CROSS JOIN nd""")),

    Q(
      "t32_backoff_eval",
      "Held-out LM evaluation with Stupid Backoff (Brants et al. " +
        "EMNLP'07 §3 — the large-LM recipe that replaces discounting " +
        "with a fixed 0.4 multiplier because it needs no end-of-" +
        "training normalization pass): the bigram model trains on " +
        "t05's md5 'train' split ONLY, then scores the held-out " +
        "docs, where — unlike t31's in-corpus form, whose model saw " +
        "every doc it scores — bigrams genuinely UNSEEN in training " +
        "occur and the score backs off: seen -> c12/c1, unseen " +
        "bigram -> 0.4 * c2/total, out-of-vocabulary w2 -> the " +
        "0.4/total floor. Per held-out doc: bigram volume, how " +
        "often each backoff tier fired (n_backoff/n_oov — the " +
        "model-coverage diagnostics a data-mixing run watches), and " +
        "the micro-nat-quantized mean log score (t31's fixed-point " +
        "convention: integer aggregate, two IEEE divisions, " +
        "bit-identical cross-engine). Plan shape: model tables " +
        "aggregate map-side-combine before any join, the three " +
        "model joins are LEFT (absence IS the signal) and Heap's-" +
        "law bounded so AQE broadcasts them, and the held-out tf " +
        "aggregate runs BEFORE the joins so model rows attach to " +
        "(doc, bigram) groups, not token instances. At 100 TB this " +
        "is the production shape outright: the frozen model is " +
        "yesterday's artifact, scoring is a map-side join per " +
        "corpus shard.",
      (s, d) => {
        val withSplit = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("t"),
            (substring(md5(col("doc_id").cast("string")), 1, 2) < "e6")
              .as("is_train"))
        // native bigram expansion (plans/ArrayPairs, r18 — the t31 swap)
        val bigramsOf =
          graft.plans.ArrayPairs.consecutivePairs(col("t"), "w1", "w2")
        val long = withSplit.filter(col("is_train"))
          .select(explode(col("t")).as("w2"))
        val uni = long.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
        val tot = long.agg(count(lit(1)).as("total"))
        val c12 = withSplit.filter(col("is_train"))
          .filter(size(col("t")) >= 2)
          .select(explode(bigramsOf).as("bg"))
          .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        val tf = withSplit.filter(!col("is_train"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(bigramsOf).as("bg"))
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .groupBy(col("doc_id"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("tf"))
        tf.join(c12, Seq("w1", "w2"), "left")
          .join(c1, Seq("w1"), "left")
          .join(uni, Seq("w2"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("p",
            when(col("c12").isNotNull,
              col("c12").cast("double") / col("c1"))
              .when(col("c2").isNotNull,
                lit(0.4) * (col("c2").cast("double") / col("total")))
              .otherwise(lit(0.4) / col("total")))
          .withColumn("lpm", round(log(col("p")) * 1e6).cast("long"))
          .groupBy(col("doc_id"))
          .agg(sum(col("tf")).as("n_bigrams"),
            sum(when(col("c12").isNull, col("tf")).otherwise(0L))
              .as("n_backoff"),
            sum(when(col("c2").isNull, col("tf")).otherwise(0L))
              .as("n_oov"),
            round(sum(col("tf") * col("lpm")).cast("double")
              / sum(col("tf")) / lit(1e6), 4).as("avg_logscore"))
      },
      Some("""
        WITH dt AS (SELECT doc_id, string_split(text, ' ') AS t,
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' AS is_train
                    FROM documents),
        long AS (SELECT unnest(t) AS w2 FROM dt WHERE is_train),
        uni AS (SELECT w2, count(*) AS c2 FROM long GROUP BY 1),
        tot AS (SELECT count(*) AS total FROM long),
        tb0 AS (SELECT t, unnest(range(1, len(t))) AS i
                FROM dt WHERE is_train AND len(t) >= 2),
        c12 AS (SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c12
                FROM tb0 GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
        hb0 AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                FROM dt WHERE NOT is_train AND len(t) >= 2),
        tf AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, count(*) AS tf
               FROM hb0 GROUP BY 1, 2, 3),
        sc AS (SELECT f.doc_id, f.tf,
                      CASE WHEN b.c12 IS NOT NULL THEN b.c12 / c1.c1
                           WHEN u.c2 IS NOT NULL THEN 0.4 * (u.c2 / tot.total)
                           ELSE 0.4 / tot.total END AS p,
                      CASE WHEN b.c12 IS NULL THEN f.tf ELSE 0 END AS bk,
                      CASE WHEN u.c2 IS NULL THEN f.tf ELSE 0 END AS ov
               FROM tf f
               LEFT JOIN c12 b ON f.w1 = b.w1 AND f.w2 = b.w2
               LEFT JOIN c1 ON f.w1 = c1.w1
               LEFT JOIN uni u ON f.w2 = u.w2
               CROSS JOIN tot)
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
               CAST(sum(bk) AS BIGINT) AS n_backoff,
               CAST(sum(ov) AS BIGINT) AS n_oov,
               round(CAST(sum(tf * CAST(round(ln(p) * 1000000) AS BIGINT)) AS DOUBLE)
                     / sum(tf) / 1000000, 4) AS avg_logscore
        FROM sc GROUP BY 1"""))
  )
}
