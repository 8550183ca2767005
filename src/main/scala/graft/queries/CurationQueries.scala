package graft.queries

import graft.{QueryDef, Tables}
import graft.llm.{Clusters, Similarity}
import org.apache.spark.sql.functions._

/** Training-data-curation queries beyond pairwise dedup: duplicate-cluster
  * resolution (pairs → connected components → one representative) and
  * deterministic content-hash sampling — the operations a corpus pipeline
  * runs after near-dup mining and before training-set cuts.
  */
object CurationQueries {

  // DuckDB token/shingle fragments — single definitions in SqlFragments
  // (shared with TextQueries so the modules can't drift apart).
  private val ws = SqlFragments.ws
  private val toksSql = SqlFragments.toksSql
  private val toksSql8 = toksSql
  private def shingles8Sql(toks: String) = SqlFragments.shinglesSql(toks, 8)
  private def shingles3Sql(toks: String) = SqlFragments.shinglesSql(toks, 3)

  // ---- Shared q127/q134 oracle fragments (the kmeansIvfCtes pattern):
  // ONE definition of the pipeline chain's SQL, parameterized by source,
  // so a fix to the q127 recipe cannot silently miss its q134 twin.

  /** exact dedup → capped 3-gram Jaccard pairs → recursive-CTE closure →
    * per-cluster min-id survivors, over `src` (a table/CTE with
    * (doc_id, text)). Ends in `kept` (doc_id, text, toks). Requires the
    * statement to open `WITH RECURSIVE`. */
  private def dedupCcCtes(src: String): String =
    s"""t AS (SELECT doc_id, text, $toksSql AS toks FROM $src),
       |keepx AS (SELECT MIN(doc_id) AS doc_id FROM $src
       |          GROUP BY md5(regexp_replace(lower(trim(text)), '$ws+', ' ', 'g'))),
       |ex AS (SELECT t.doc_id, t.text, t.toks FROM t JOIN keepx USING (doc_id)),
       |sh AS (SELECT doc_id, unnest(${shingles3Sql("toks")}) AS s FROM ex),
       |dfq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          JOIN dfq ON dfq.s = a.s AND dfq.df <= 16 GROUP BY 1, 2),
       |pairs AS (SELECT doc_a, doc_b
       |          FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |          WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.8),
       |edges AS (SELECT doc_a AS es, doc_b AS ed FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, lbl) AS (SELECT doc_id, doc_id FROM ex
       |                   UNION
       |                   SELECT e.ed, r.lbl FROM reach r JOIN edges e ON e.es = r.id),
       |comp AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id),
       |kept AS (SELECT ex.doc_id, ex.text, ex.toks FROM ex JOIN comp ON ex.doc_id = comp.id
       |         WHERE comp.id = comp.lbl)""".stripMargin

  /** hashed-classifier gate → add-one bigram LM vs `refFrom` →
    * token-budget selection → sequence packing, over `toksCte` (a CTE
    * with (doc_id, toks)). Ends in `p`; pair with [[packedSelectSql]]. */
  private def lmSelectPackCtes(toksCte: String, refFrom: String,
                               budget: Long): String =
    s"""fe AS (SELECT doc_id, toks, list_concat(toks,
       |         list_transform(generate_series(1, greatest(len(toks)-1, 0)),
       |           i -> toks[i] || ' ' || toks[i+1])) AS feats FROM $toksCte),
       |ck AS (SELECT doc_id, toks FROM fe
       |       WHERE CASE WHEN len(feats) = 0 THEN 0
       |         ELSE CAST(list_reduce(list_transform(feats, x ->
       |           CAST('0x' || substr(md5(CAST(CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 1024 AS VARCHAR)), 1, 4) AS BIGINT) % 2001 - 1000),
       |         (a, b) -> a + b) AS BIGINT) END > 0),
       |${lmPackFromCk(refFrom, budget)}""".stripMargin

  /** The LM-score → budget-select → pack tail of [[lmSelectPackCtes]],
    * assuming a CTE `ck` (doc_id, toks) — the classifier survivors —
    * already exists: q207 swaps in a TRAINED-classifier `ck` while
    * q127/q134 keep the frozen one, over ONE shared tail. */
  private def lmPackFromCk(refFrom: String, budget: Long): String =
    s"""rt AS (SELECT $toksSql AS toks FROM $refFrom),
       |runi AS (SELECT w1, COUNT(*) AS cu FROM
       |           (SELECT unnest(toks) AS w1 FROM rt) GROUP BY 1),
       |rbi AS (SELECT b, COUNT(*) AS cb FROM
       |          (SELECT unnest(list_transform(generate_series(1, greatest(len(toks)-1, 0)),
       |             i -> toks[i] || ' ' || toks[i+1])) AS b FROM rt) GROUP BY 1),
       |v AS (SELECT COUNT(*) AS v FROM runi),
       |d2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(toks)-1, 0)),
       |         i -> {'b': toks[i] || ' ' || toks[i+1], 'w1': toks[i]})) AS bw FROM ck),
       |db AS (SELECT doc_id, bw.b AS b, bw.w1 AS w1, COUNT(*) AS tf FROM d2 GROUP BY 1, 2, 3),
       |c2 AS (SELECT doc_id, b,
       |         tf * ln((COALESCE(cb, 0) + 1.0) / (COALESCE(cu, 0) + v)) AS contrib, tf
       |       FROM db LEFT JOIN rbi USING (b) LEFT JOIN runi USING (w1) CROSS JOIN v),
       |lm AS (SELECT doc_id,
       |         round(list_reduce(list(contrib ORDER BY b), (acc, x) -> acc + x)
       |           / SUM(tf), 6) AS avg_logprob
       |       FROM c2 GROUP BY 1),
       |selc AS (SELECT k.doc_id, CAST(len(k.toks) AS BIGINT) AS n_tokens, lm.avg_logprob,
       |           SUM(CAST(len(k.toks) AS BIGINT)) OVER (ORDER BY lm.avg_logprob DESC, k.doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |         FROM ck k JOIN lm USING (doc_id)),
       |sel AS (SELECT * FROM selc WHERE cum <= $budget),
       |p AS (SELECT doc_id, n_tokens, avg_logprob, CAST(cum AS BIGINT) AS cum_tokens,
       |        SUM(n_tokens) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc
       |      FROM sel)""".stripMargin

  /** The final packed-layout projection over `p`. */
  private def packedSelectSql(seqLen: Int): String =
    s"""SELECT doc_id, n_tokens, avg_logprob, cum_tokens,
       |  CAST((pc - n_tokens) // $seqLen AS BIGINT) AS seq_id,
       |  CAST((pc - n_tokens) % $seqLen AS BIGINT) AS seq_offset
       |FROM p ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- q62: duplicate clusters — connected components over the exact
    // embedding near-dup pairs (q52's edge set), one row per multi-doc
    // cluster. Oracle: transitive closure via recursive CTE; Spark:
    // distributed min-label propagation (Clusters.connectedComponents).
    QueryDef.sql("q62_dedup_clusters",
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${VectorQueries.cosSql("a.embedding", "b.embedding")} >= 0.4),
         |edges AS (
         |  SELECT va AS s, vb AS d FROM pairs
         |  UNION SELECT vb, va FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
         |comp AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id)
         |SELECT lbl AS cluster_rep, COUNT(*) AS cluster_size,
         |  MAX(id) AS max_member
         |FROM comp GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.nearDuplicatePairs(emb, "label", 0.4)
      Clusters.duplicateClusters(emb.select("vec_id"), "vec_id",
        pairs, "vec_a", "vec_b")
    },

    // ---- q62b: q62 under DURABLE checkpoints (r11 verdict item 6) —
    // the 1000-executor recovery posture exercised by the driver
    // contract, not just CheckpointModeSpec: `graft.checkpointDir`
    // switches every iterative pin from localCheckpoint (executor-local
    // blocks, recompute-on-loss) to reliable checkpoint (storage-backed,
    // survive-executor-loss), results bit-equal by contract. The gate
    // runs the SAME clustering under a durable dir, REQUIRES checkpoint
    // part-files physically on disk after the iterative job (proof the
    // durable path actually engaged — a silent fallback to local mode
    // leaves the dir empty and fails loudly), and shares q62's oracle,
    // so bit-equality of the two modes is driver-checked transitively.
    QueryDef.sql("q62b_dedup_clusters_durable",
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${VectorQueries.cosSql("a.embedding", "b.embedding")} >= 0.4),
         |edges AS (
         |  SELECT va AS s, vb AS d FROM pairs
         |  UNION SELECT vb, va FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
         |comp AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id)
         |SELECT lbl AS cluster_rep, COUNT(*) AS cluster_size,
         |  MAX(id) AS max_member
         |FROM comp GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin) { (s, dir) =>
      val ckptRoot = s"${System.getProperty("java.io.tmpdir")}/graft-io/q62b_ckpt"
      new java.io.File(ckptRoot).mkdirs()
      s.conf.set(graft.Checkpoints.DirKey, ckptRoot)
      try {
        val emb = Tables.embeddings(s, dir)
        val pairs = Similarity.nearDuplicatePairs(emb, "label", 0.4)
        val out = Clusters.duplicateClusters(emb.select("vec_id"), "vec_id",
          pairs, "vec_a", "vec_b")
        // materialize under durable mode so the pins run NOW, then prove
        // the reliable checkpoints hit storage: rdd-*/part-* files under
        // the context's <root>/<uuid> subdir
        val n = out.count()
        require(n > 0, "q62b: no clusters")
        def hasPart(f: java.io.File): Boolean =
          if (f.isFile) f.getName.startsWith("part-")
          else Option(f.listFiles()).exists(_.exists(hasPart))
        require(hasPart(new java.io.File(ckptRoot)),
          s"q62b: no reliable-checkpoint part files under $ckptRoot — " +
            "durable mode did not engage")
        out
      } finally s.conf.unset(graft.Checkpoints.DirKey)
    },

    // ---- q63: deterministic content-hash sample — the reproducible
    // "take 1/8 of the corpus" cut (hash of the CONTENT, not an RNG, so the
    // same document always lands on the same side across runs and engines).
    QueryDef.sql("q63_hash_sample",
      """SELECT doc_id, length(text) AS text_len
        |FROM documents
        |WHERE substr(md5(text), 1, 1) IN ('0', '1')
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .filter(substring(md5(col("text").cast("binary")), 1, 1).isin("0", "1"))
        .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))
        .orderBy("doc_id")
    },

    // ---- q66: end-to-end curation funnel (exact dedup -> near-dup
    // clusters -> quality filter -> deterministic split). Every stage is
    // re-expressible in DuckDB — the 64-bit shingle hashes are only JOIN
    // KEYS for the exact trigram-Jaccard pair mine (collision-free at
    // fixture scale, the same argument as q42's gate) — so the whole
    // composition gets a full independent oracle rather than the golden
    // snapshot it carried through r5: normalized-md5 exact dedup, the q42
    // pair SQL over the deduped survivors, DuckDB's own recursive-CTE
    // transitive closure for the cluster representatives, the q57 quality
    // formula, and the q63 md5-hex-bucket split.
    QueryDef.sql("q66_curation_funnel",
      s"""WITH RECURSIVE
         |nrm AS (SELECT doc_id, text,
         |         md5(regexp_replace(lower(trim(text)), '${ws}+', ' ', 'g')) AS h
         |       FROM documents),
         |ek AS (SELECT h, MIN(doc_id) AS keep FROM nrm GROUP BY 1),
         |ex AS (SELECT n.doc_id, n.text FROM nrm n
         |       JOIN ek ON n.h = ek.h AND n.doc_id = ek.keep),
         |t AS (SELECT doc_id, $toksSql AS toks FROM ex),
         |sh AS (SELECT doc_id, unnest(${shingles3Sql("toks")}) AS s FROM t),
         |dfq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          JOIN dfq ON dfq.s = a.s AND dfq.df <= 16 GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b
         |          FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         |          WHERE CAST(i AS DOUBLE)/(sa.n + sb.n - i) >= 0.8),
         |edges AS (SELECT doc_a AS es, doc_b AS ed FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM ex
         |  UNION
         |  SELECT e.ed, r.lbl FROM reach r JOIN edges e ON e.es = r.id),
         |comp AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id),
         |nr AS (SELECT ex.doc_id, ex.text FROM ex
         |       JOIN comp ON ex.doc_id = comp.id WHERE comp.id = comp.lbl),
         |qt AS (SELECT doc_id, text, $toksSql AS toks FROM nr),
         |q AS (SELECT doc_id, text,
         |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.5
         |      + least((CAST(len(list_filter(toks,
         |          t2 -> t2 IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
         |        / len(toks)) * 5.0, 1.0) * 0.3
         |      + CASE WHEN CAST(length(regexp_replace(text, '${ws}+', '', 'g')) AS DOUBLE)
         |          / len(toks) BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0.0 END AS qscore
         |  FROM qt),
         |cur AS (SELECT doc_id, substr(md5(text), 1, 1) <> '0' AS is_train
         |        FROM q WHERE qscore >= 0.3)
         |SELECT (SELECT COUNT(*) FROM documents) AS raw_docs,
         |  (SELECT COUNT(*) FROM ex) AS after_exact_dedup,
         |  (SELECT COUNT(*) FROM nr) AS after_near_dedup,
         |  (SELECT COUNT(*) FROM cur) AS after_quality_filter,
         |  (SELECT CAST(COALESCE(SUM(CASE WHEN is_train THEN 1 ELSE 0 END), 0) AS BIGINT)
         |   FROM cur) AS train_docs""".stripMargin) { (s, dir) =>
      graft.llm.Curation.funnel(Tables.documents(s, dir), "doc_id", "text")
    },

    // ---- q67: winnowing fingerprint near-dup pairs (rolling-hash k-grams,
    // min-per-window selection — position-independent plagiarism-style
    // matching). maxDocFreq=64 drops boilerplate fingerprints: on the
    // sf0.1 fixture one fingerprint hits 76% of docs and >64-doc posting
    // lists carry 99% of all pair expansions (104.0M of 104.9M) — without
    // the cap the "near-dup" output is mostly boilerplate pairs AND the
    // plan is quadratic in the hottest key (measured 34 s vs ~1 s at
    // sf0.1).
    //
    // CONVERTED golden → full oracle (r11): the hash family IS
    // DuckDB-replayable. k is fixed at 8, so the rolling FNV-base hash
    // has a direct 8-term closed form per position — Java's wrapping
    // 64-bit arithmetic replayed exactly in HUGEINT mod 2^64 with
    // precomputed wrapped P^j literals, then a sign fixup to Spark's
    // signed longs; the winnowing min-per-window is a SQL window MIN
    // (rightmost-tie emission is value-identical — ties share the
    // value), the per-doc distinct a GROUP BY, and the capped pair
    // expansion the q94-chain replay. The corpus is ASCII, so ord() ==
    // the byte the kernel hashes — and the oracle now ASSERTS that
    // (length == strlen guard with a self-explaining error(), r11
    // advice), so a future non-ASCII fixture fails with the actual
    // cause instead of a confusing hash mismatch. The engine side
    // NFC-normalizes first (r12); identity here by the same guard.
    QueryDef.sql("q67_winnowing_pairs", {
      val P = 1099511628211L
      val pows = Iterator.iterate(1L)(_ * P).take(8)
        .map(java.lang.Long.toUnsignedString).toIndexedSeq
      val terms = (0 until 8).map(j =>
        s"CAST(ord(substr(nt, i+$j, 1)) AS HUGEINT) * CAST('${pows(7 - j)}' AS HUGEINT)")
        .mkString(" +\n         |      ")
      s"""WITH n0 AS (SELECT doc_id,
         |    regexp_replace(lower(trim(nfc_normalize(text))), '$ws+', ' ', 'g') AS nt
         |  FROM documents),
         |n AS (SELECT doc_id,
         |    CASE WHEN length(nt) = strlen(nt) THEN nt
         |         ELSE error('q67 oracle requires a pure-ASCII normalized corpus '
         |                    || '(ord()==byte replay): doc ' || doc_id)
         |    END AS nt
         |  FROM n0),
         |g AS (SELECT doc_id, nt,
         |    unnest(generate_series(1, greatest(length(nt) - 7, 0))) AS i
         |  FROM n),
         |h AS (SELECT doc_id, i,
         |    ($terms) % CAST('18446744073709551616' AS HUGEINT) AS hu
         |  FROM g),
         |hs AS (SELECT doc_id, i,
         |    CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
         |      THEN hu - CAST('18446744073709551616' AS HUGEINT)
         |      ELSE hu END AS BIGINT) AS h
         |  FROM h),
         |win AS (SELECT doc_id, i,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
         |    MAX(i) OVER (PARTITION BY doc_id) AS m
         |  FROM hs),
         |fp AS (SELECT doc_id, mn FROM win
         |       WHERE i <= m - 3 OR (i = 1 AND m < 4) GROUP BY 1, 2),
         |dfq AS (SELECT mn, COUNT(*) AS df FROM fp GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
         |      FROM fp a JOIN fp b ON a.mn = b.mn AND a.doc_id < b.doc_id
         |      JOIN dfq ON dfq.mn = a.mn AND dfq.df <= 64
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared_fingerprints FROM p
         |WHERE shared_fingerprints >= 3
         |ORDER BY shared_fingerprints DESC, doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
      graft.llm.Dedup.winnowingPairs(Tables.documents(s, dir), "doc_id", "text",
          maxDocFreq = 64)
        .orderBy(desc("shared_fingerprints"), asc("doc_a"), asc("doc_b"))
    },

    // ---- q67a: INDEPENDENT containment audit for the golden-gated q67.
    // Soundness claim: s distinct shared winnowing fingerprints are hashes
    // of s distinct character-8-grams both documents contain, so every
    // q67 pair (minShared=3) must also share >= 3 distinct 8-grams of the
    // normalized text — a relation DuckDB computes with substr, no hash
    // family needed. The gate encodes containment as set equality:
    // Spark = (winnowing pairs ∪ the 8-gram superset), oracle = the
    // superset alone — any winnowing pair OUTSIDE the superset (a hash
    // collision or a fingerprinting bug) adds a row the oracle doesn't
    // have and fails the hash gate. Restricted to doc_id < 50 both ends
    // to keep the oracle's posting join bounded (the superset relation is
    // near-all-pairs on boilerplate-heavy docs); fingerprint selection is
    // per-document, so the restriction loses no generality.
    QueryDef.sql("q67a_winnowing_containment",
      s"""WITH n AS (SELECT doc_id,
         |    regexp_replace(lower(trim(nfc_normalize(text))), '${ws}+', ' ', 'g') AS nt
         |  FROM documents WHERE doc_id < 50),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(length(nt) - 7, 0)),
         |    i -> substr(nt, CAST(i AS INTEGER), 8)))) AS g8 FROM n),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS sh
         |      FROM g a JOIN g b ON a.g8 = b.g8 AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b FROM p WHERE sh >= 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val win = graft.llm.Dedup.winnowingPairs(docs, "doc_id", "text",
          maxDocFreq = 64)
        .filter(col("doc_a") < 50 && col("doc_b") < 50)
        .select("doc_a", "doc_b")
      val sub = docs.filter(col("doc_id") < 50)
        .select(col("doc_id"),
          graft.functions.TextFns.normalize(col("text")).as("nt"))
      val superset = sub
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, greatest(length(nt) - 7, 0))," +
            " i -> substring(nt, i, 8)))")).as("g8"))
        .groupBy(col("g8"))
        .agg(collect_list(col("doc_id")).as("ds"))   // per-doc distinct grams
        .filter(size(col("ds")) >= 2)
        .select(explode(graft.plans.PairArray.pairArray(col("ds"))).as("p"))
        .groupBy(col("p.product_1").as("doc_a"), col("p.product_2").as("doc_b"))
        .agg(count(lit(1)).as("sh"))
        .filter(col("sh") >= 3)
        .select("doc_a", "doc_b")
      win.union(superset).distinct().orderBy("doc_a", "doc_b")
    },

    // ---- q84: train/eval decontamination scan — every 10th doc plays the
    // eval set; report train docs sharing 8-gram shingles with any eval
    // doc (the leakage check a training pipeline runs before a release).
    // Spark joins eval/train posting lists on the 64-bit shingle hash;
    // the oracle re-derives with string 8-grams — hash-collision-free at
    // this scale, so counts agree exactly.
    // Train-side df cap = 16 (the q94 petabyte configuration, r7): EXACT
    // at the shipped SFs (max train 8-gram df is 3 at sf0.01, 4 at
    // sf0.1 — gate results unchanged and the cap non-vacuous only where
    // it should be), and it bounds the eval⋈train posting expansion on
    // duplicate-heavy corpora (uncapped this was 7.5× wall at 32× data:
    // cross-copy shingle collisions multiply every hot posting list).
    // One-sided like q94: a gram shared by >16 train docs is boilerplate,
    // not eval leakage.
    QueryDef.sql("q84_decontamination",
      s"""WITH t AS (SELECT doc_id, $toksSql8 AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(${shingles8Sql("toks")}) AS s FROM t),
         |ev AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
         |tr AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
         |trc AS (SELECT tr.* FROM tr
         |        JOIN (SELECT s FROM tr GROUP BY s HAVING COUNT(*) <= 16) ok
         |        USING (s)),
         |evsz AS (SELECT doc_id, COUNT(*) AS n FROM ev GROUP BY 1),
         |inter AS (SELECT ev.doc_id AS eval_id, trc.doc_id AS train_id,
         |            COUNT(*) AS shared_ngrams
         |          FROM ev JOIN trc ON ev.s = trc.s GROUP BY 1, 2)
         |SELECT eval_id, train_id, shared_ngrams,
         |  CAST(shared_ngrams AS DOUBLE) / evsz.n AS contamination_ratio
         |FROM inter JOIN evsz ON eval_id = evsz.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.llm.Dedup.crossCorpusContamination(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", n = 8, maxDocFreq = 16)
    },

    // ---- q76: edit-distance verification of fingerprint-blocked pairs —
    // the exact-verify stage after cheap blocking (classic dedup shape:
    // block on the md5 prefix fingerprint, verify candidates with
    // Levenshtein). The join is an equi-join on the fingerprint, never
    // all-pairs; Spark's and DuckDB's levenshtein agree exactly.
    QueryDef.sql("q76_editdistance_pairs",
      """WITH fp AS (
        |  SELECT doc_id, text,
        |    md5(substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 64)) AS f
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.text AS ta, b.text AS tb
        |  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(levenshtein(ta, tb) AS BIGINT) AS edit_distance
        |FROM pairs WHERE levenshtein(ta, tb) <= 50
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val fp = Tables.documents(s, dir).select(col("doc_id"), col("text"),
        md5(substring(graft.functions.TextFns.normalize(col("text")), 1, 64)
          .cast("binary")).as("f"))
      fp.as("a").join(fp.as("b"),
          col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.text"), col("b.text")).cast("long").as("edit_distance"))
        .filter(col("edit_distance") <= 50)
        .orderBy("doc_a", "doc_b")
    },

    // ---- q65: referential-integrity + value-domain audit — the cross-table
    // quality checks the reference's per-file analyzer cannot express
    // (complete_analyzer.py profiles one CSV at a time). Each check is an
    // anti-join or a predicate count; at scale each anti-join is one
    // shuffle on the key and they all run in a single job here.
    QueryDef.sql("q65_referential_audit",
      """SELECT
        |  (SELECT COUNT(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                     WHERE c.c_custkey = o.o_custkey)) AS orphan_orders,
        |  (SELECT COUNT(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lineitems,
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_quantity <= 0 OR l_extendedprice < 0) AS bad_line_values,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_totalprice < 0 OR o_custkey IS NULL) AS bad_order_values""".stripMargin) {
      (s, dir) =>
        val orphanOrders = Tables.orders(s, dir)
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("orphan_orders"))
        val orphanLines = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("orphan_lineitems"))
        val badLines = Tables.lineitem(s, dir)
          .filter(col("l_quantity") <= 0 || col("l_extendedprice") < 0)
          .agg(count(lit(1)).as("bad_line_values"))
        val badOrders = Tables.orders(s, dir)
          .filter(col("o_totalprice") < 0 || col("o_custkey").isNull)
          .agg(count(lit(1)).as("bad_order_values"))
        orphanOrders.crossJoin(orphanLines).crossJoin(badLines).crossJoin(badOrders)
    },

    // ---- q118: weighted deterministic sample — 25 docs drawn with
    // probability ∝ token count (the token-proportional mixture draw a
    // training pipeline makes), via the md5 ticket race: w tickets per
    // doc, row key = min ticket, k smallest keys win. Exact
    // integer/string arithmetic end-to-end — the reason to prefer this
    // over float-keyed Efraimidis-Spirakis (u^(1/w) differs in ULPs
    // across engines and could not be hash-gated).
    QueryDef.sql("q118_weighted_sample",
      s"""WITH s AS (SELECT doc_id,
         |    CAST(least(1 + len($toksSql8) // 50, 16) AS INT) AS weight
         |  FROM documents),
         |t AS (SELECT doc_id, weight,
         |    unnest(generate_series(1, weight)) AS i FROM s),
         |m AS (SELECT doc_id, weight,
         |    MIN(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))) AS ticket
         |  FROM t GROUP BY 1, 2)
         |SELECT * FROM (SELECT doc_id, weight, ticket FROM m
         |               ORDER BY ticket, doc_id LIMIT 25)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.sources.Sampling.weightedTicketSample(
          Tables.documents(s, dir), "doc_id",
          lit(1) + expr("size(split(lower(trim(text)), '\\\\s+')) div 50"),
          k = 25)
        .orderBy("doc_id")
    },

    // ---- q127: the COMPOSED end-to-end curation pipeline as ONE job —
    // exact dedup → capped Jaccard pairs (pinned once) → connected
    // components → hashed-classifier gate → bigram-LM score vs the
    // doc_id<250 reference slice → 15k-token budget selection → 512-token
    // sequence packing. Every stage is individually oracle-gated
    // (q40/q94/q123/q120/q97/q96); this gate checks the COMPOSITION —
    // stage wiring, the shared pinned pair set, and the cross-stage
    // determinism of the final packed layout. The oracle re-derives the
    // whole chain: normalized-md5 keep set, df-capped inverted-index
    // Jaccard, recursive-CTE closure, the md5 classifier sum, add-one
    // bigram LM with bucket-ordered folds, and the two running-sum
    // layouts as plain windows (the engine's two-pass distributed cumsum
    // is bit-equal on integral token counts).
    QueryDef.sql("q127_curation_pipeline",
      s"""WITH RECURSIVE
         |${dedupCcCtes("documents")},
         |${lmSelectPackCtes("kept", "documents WHERE doc_id < 250", 15000)}
         |${packedSelectSql(512)}""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.llm.Curation.pipeline(docs, "doc_id", "text",
          lmRef = docs.filter(col("doc_id") < 250),
          tokenBudget = 15000, seqLen = 512).packed
        .orderBy("doc_id")
    },

    // ---- q133: DECONTAMINATED training corpus — the removal artifact
    // q84 only reports: train-split docs sharing ANY 8-gram with the
    // eval split are dropped (the published train/test-leakage scrub
    // every training pipeline runs before packing). Same capped pair
    // source as q84 (df ≤ 16, exact at shipped SFs — see q84's note).
    // Engine: contamination pairs → distinct contaminated train ids →
    // one anti-join. Oracle: same chain with DuckDB's ANTI JOIN.
    QueryDef.sql("q133_decontaminated_corpus",
      s"""WITH t AS (SELECT doc_id, $toksSql8 AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(${shingles8Sql("toks")}) AS s FROM t),
         |ev AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
         |tr AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
         |trc AS (SELECT tr.* FROM tr
         |        JOIN (SELECT s FROM tr GROUP BY s HAVING COUNT(*) <= 16) ok
         |        USING (s)),
         |bad AS (SELECT DISTINCT trc.doc_id AS doc_id
         |        FROM trc JOIN ev ON trc.s = ev.s)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens
         |FROM t ANTI JOIN bad USING (doc_id)
         |WHERE t.doc_id % 10 <> 0 ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val evalSplit = docs.filter(col("doc_id") % 10 === 0)
      val trainSplit = docs.filter(col("doc_id") % 10 =!= 0)
      val contaminated = graft.llm.Dedup.crossCorpusContamination(
          evalSplit, trainSplit, "doc_id", "text", n = 8, maxDocFreq = 16)
        .select(col("train_id").as("doc_id")).distinct()
      trainSplit.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          size(graft.functions.TextFns.tokens(col("text"))).cast("long")
            .as("n_tokens"))
        .orderBy("doc_id")
    },

    // ---- q129: deterministic corpus shard shuffle — the dataloader
    // layout between curation and training: reproducible pseudo-random
    // (shard, shard_pos) per doc from an md5 ticket, no RNG state. The
    // oracle replays the ticket, the 16-bit shard bucket, and the
    // per-shard dense rank.
    QueryDef.sql("q129_shard_shuffle",
      """WITH s AS (SELECT doc_id,
        |    md5('sh:' || CAST(doc_id AS VARCHAR)) AS ticket FROM documents),
        |b AS (SELECT doc_id, ticket,
        |    CAST(CAST('0x' || substr(ticket, 1, 4) AS INTEGER) % 16 AS INTEGER) AS shard
        |  FROM s)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ticket, doc_id) AS BIGINT)
        |    AS shard_pos,
        |  ticket
        |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.llm.Packing.shardShuffle(Tables.documents(s, dir), "doc_id", 16)
        .orderBy("doc_id")
    },

    // ---- q134: the FULL curation pipeline — q127's chain with the two
    // optional stages switched ON: decontamination against an eval split
    // (8-gram overlap, df ≤ 16 over the near-dup survivors — the published
    // train/test-leakage scrub) and PII redaction (so the classifier, LM,
    // and token counts all see scrubbed text). The fixture corpus carries
    // no PII, so — exactly like q93 — deterministic PII is synthesized
    // into the text IDENTICALLY in both engines first; the gate then
    // checks real redaction flowing through every downstream stage, not a
    // vacuous identity. Chain: inject PII → train/eval split (doc_id%10)
    // → exact dedup → capped 3-gram Jaccard pairs (pinned once) → CC →
    // decon anti-join → redact → classifier gate → bigram-LM vs the
    // doc_id<250 slice → 15k-token budget → 512-token packing.
    QueryDef.sql("q134_curation_pipeline_full", {
      val toksOf = SqlFragments.toksOfSql _
      val redact = SqlFragments.piiRedactSql _
      s"""WITH RECURSIVE
         |base AS (SELECT doc_id, text
         |  || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
         |       || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ELSE '' END
         |  || CASE WHEN doc_id % 4 = 0 THEN ' call 555-'
         |       || lpad(CAST((doc_id * 37) % 1000 AS VARCHAR), 3, '0') || '-'
         |       || lpad(CAST((doc_id * 91) % 10000 AS VARCHAR), 4, '0') ELSE '' END
         |  || CASE WHEN doc_id % 5 = 0 THEN ' from 10.'
         |       || CAST(doc_id % 256 AS VARCHAR) || '.0.'
         |       || CAST((doc_id * 3) % 256 AS VARCHAR) ELSE '' END AS text
         |  FROM documents),
         |tr AS (SELECT doc_id, text FROM base WHERE doc_id % 10 <> 0),
         |${dedupCcCtes("tr")},
         |k8 AS (SELECT doc_id, unnest(${shingles8Sql("toks")}) AS s FROM kept),
         |k8c AS (SELECT k8.* FROM k8
         |        JOIN (SELECT s FROM k8 GROUP BY s HAVING COUNT(*) <= 16) ok USING (s)),
         |ev AS (SELECT doc_id, ${toksOf("text")} AS toks FROM base WHERE doc_id % 10 = 0),
         |e8 AS (SELECT doc_id, unnest(${shingles8Sql("toks")}) AS s FROM ev),
         |bad AS (SELECT DISTINCT k8c.doc_id AS doc_id FROM k8c JOIN e8 ON k8c.s = e8.s),
         |rd AS (SELECT kept.doc_id, ${redact("kept.text")} AS rtext
         |       FROM kept ANTI JOIN bad USING (doc_id)),
         |rtk AS (SELECT doc_id, ${toksOf("rtext")} AS toks FROM rd),
         |${lmSelectPackCtes("rtk", "base WHERE doc_id < 250", 15000)}
         |${packedSelectSql(512)}""".stripMargin
    }) { (s, dir) =>
      q134Spark(s, dir)
    },

    // ---- q135: per-source (domain-level) REPUTATION — the C4/RefinedWeb
    // stage that judges provenance, not documents: one row per source
    // with doc counts, exact-dup count, PII match total, token mass,
    // decimal-exact mean quality, and the composite keep verdict. The
    // fixture corpus carries no PII and no exact dups, so — the q93/q134
    // precedent — both signals are synthesized IDENTICALLY in both
    // engines, keyed off the source's numeric suffix so the verdict
    // actually discriminates per source: suffix%3==0 sources get one
    // email appended per doc (PII density 1.0 > the 0.5/doc bound) and
    // suffix%4==1 sources are unioned with a re-id'd copy of themselves
    // (dup ratio 0.5 > the 0.3 bound).
    QueryDef.sql("q135_source_reputation", {
      s"""WITH base AS (SELECT doc_id, source, text
         |  || CASE WHEN TRY_CAST(substr(source, 4) AS INT) % 3 = 0
         |       THEN ' contact user' || CAST(doc_id AS VARCHAR)
         |         || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
         |       ELSE '' END AS text
         |  FROM documents),
         |corpus AS (SELECT * FROM base
         |           UNION ALL
         |           -- 1e12 offset: far above any real doc_id at every sweep
         |           -- scale (32x sf0.1 tops out ~1e10 with ScaleData's 1e8
         |           -- copy stride), so synthesized dup ids can never
         |           -- collide with real ones
         |           SELECT doc_id + 1000000000000, source, text FROM base
         |           WHERE TRY_CAST(substr(source, 4) AS INT) % 4 = 1),
         |${SqlFragments.qualityCtesSql("corpus", " source,")},
         |pii AS (SELECT doc_id, ${SqlFragments.piiCountSql("text")} AS pii FROM corpus),
         |rep AS (SELECT MIN(doc_id) AS doc_id, TRUE AS is_rep FROM corpus
         |        GROUP BY md5(regexp_replace(lower(trim(text)), '$ws+', ' ', 'g'))),
         |pd AS (SELECT q.doc_id, q.source, q.n_tokens, q.quality_score, pii.pii,
         |              (is_rep IS NULL) AS is_dup
         |       FROM q JOIN pii USING (doc_id) LEFT JOIN rep USING (doc_id)),
         |r AS (SELECT source, COUNT(*) AS n_docs,
         |        CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
         |        CAST(SUM(pii) AS BIGINT) AS pii_matches,
         |        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |        round(CAST(SUM(CAST(quality_score AS DECIMAL(20,15))) AS DOUBLE)
         |          / COUNT(*), 6) AS mean_quality
         |      FROM pd GROUP BY 1)
         |SELECT source, n_docs, dup_docs, pii_matches, total_tokens, mean_quality,
         |  (mean_quality >= 0.3 AND CAST(pii_matches AS DOUBLE) / n_docs <= 0.5
         |   AND CAST(dup_docs AS DOUBLE) / n_docs <= 0.3) AS keep
         |FROM r ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val d = col("doc_id")
      // FULL suffix, null on non-numeric — try_cast(substring(src, 4))
      // matches the oracle's TRY_CAST(substr(...)) exactly, so a fixture
      // regeneration with longer or non-numeric source ids degrades both
      // engines identically instead of silently diverging
      val sfx = expr("try_cast(substring(source, 4) AS int)")
      val base = Tables.documents(s, dir).select(d, col("source"),
        concat(col("text"),
          when(sfx % 3 === 0, concat(lit(" contact user"), d.cast("string"),
            lit("@mail"), (d % 7).cast("string"), lit(".example.com")))
            .otherwise("")).as("text"))
      val corpus = base.unionByName(
        base.filter(sfx % 4 === 1)
          .select((d + 1000000000000L).as("doc_id"), col("source"), col("text")))
      graft.llm.SourceCuration.sourceReputation(corpus, "doc_id", "text",
          "source", minMeanQuality = 0.3, maxPiiPerDoc = 0.5, maxDupRatio = 0.3)
        .orderBy("source")
    },

    // ---- q136: per-source contribution CAP — "no domain may own the
    // corpus": each source keeps at most its 8 best docs by
    // (quality desc, doc_id). Engine-side the in-source rank is the
    // skew-safe Ranks.groupedRowNumber (a PARTITION BY source window
    // passes the shape gate but serializes on the dominant domain at
    // scale — the q130 lesson applied to ranks); the oracle IS the
    // window, bit-equal.
    QueryDef.sql("q136_source_capped_corpus",
      s"""WITH ${SqlFragments.qualityCtesSql("documents", " source,")}
         |SELECT doc_id, source, quality_score, src_rank FROM (
         |  SELECT doc_id, source, quality_score,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY quality_score DESC, doc_id) AS src_rank
         |  FROM q)
         |WHERE src_rank <= 8 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.llm.SourceCuration.sourceCappedCorpus(
          Tables.documents(s, dir), "doc_id", "text", "source", cap = 8)
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("src_rank"))
        .orderBy("doc_id")
    },

    // ---- q140: LEAKAGE-FREE train/val/test split — whole near-dup
    // CLUSTERS assigned to one split (md5 bucket of the cluster rep), so
    // near-duplicates can never straddle train and test. Pair mine +
    // closure are q62's (keep the CTEs in sync with q62's oracle); the
    // split CASE replays Curation.leakageFreeSplit's 2/2/12 sixteenths.
    QueryDef.sql("q140_cluster_split",
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${VectorQueries.cosSql("a.embedding", "b.embedding")} >= 0.4),
         |edges AS (
         |  SELECT va AS s, vb AS d FROM pairs
         |  UNION SELECT vb, va FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
         |comp AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id)
         |SELECT id AS vec_id, lbl AS cluster_rep,
         |  CASE WHEN b < 2 THEN 'val' WHEN b < 4 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM (SELECT id, lbl,
         |    CAST('0x' || substr(md5('sp:' || CAST(lbl AS VARCHAR)), 1, 1)
         |      AS INTEGER) AS b
         |  FROM comp)
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.nearDuplicatePairs(emb, "label", 0.4)
        .select("vec_a", "vec_b")
      graft.llm.Curation.leakageFreeSplit(emb.select("vec_id"), "vec_id",
          pairs, "vec_a", "vec_b", valSixteenths = 2, testSixteenths = 2)
        .orderBy("vec_id")
    },

    // ---- q142: shard-export manifest — per-shard row count, char
    // volume, ORDER-INDEPENDENT content signature (sum of a 32-bit md5
    // prefix per row) and id range, under q129's md5-ticket shard
    // assignment. The validation record a sharded corpus export writes
    // next to its files.
    QueryDef.sql("q142_shard_manifest",
      """WITH b AS (SELECT doc_id, text,
        |    CAST(CAST('0x' || substr(md5('sh:' || CAST(doc_id AS VARCHAR)), 1, 4)
        |      AS INTEGER) % 8 AS INTEGER) AS shard
        |  FROM documents)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS content_sig,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM b GROUP BY 1 ORDER BY shard""".stripMargin) { (s, dir) =>
      graft.llm.Packing.shardManifest(Tables.documents(s, dir),
          "doc_id", "text", nShards = 8)
        .orderBy("shard")
    },

    // ---- q201: DISTRIBUTED CLASSIFIER TRAINING — the fitting pass the
    // frozen q123 model stood in for: 3 rounds of batch gradient descent
    // on a hard-sigmoid logistic objective over the 1024-slot hashed
    // unigram+bigram features (positives = doc_id < 250, the q124
    // target/raw split convention), every quantity a BIGINT at 1e6
    // fixed point. Spark's truncating `div` == DuckDB's `//` on
    // negatives too (both toward zero), so the oracle replays training
    // EXACTLY: each round = 4 CTEs (margin, hard-sigmoid residual,
    // per-bucket gradient, weight update) — the q125 unrolled-integer-
    // rounds recipe applied to model fitting. Output: the dense trained
    // weight vector, one row per bucket.
    QueryDef.sql("q201_train_quality_classifier",
      s"""WITH ${trainCtes(3)}
         |SELECT b AS bucket, w AS weight_fp FROM w3 ORDER BY bucket"""
        .stripMargin) { (s, dir) =>
      val w = graft.llm.Scoring.trainLogistic(Tables.documents(s, dir),
        "doc_id", "text", col("doc_id") < 250, buckets = 1024, iters = 3)
      import s.implicits._
      w.toIndexedSeq.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }
        .toDF("bucket", "weight_fp").orderBy("bucket")
    },

    // ---- q206: CLASSIFIER EVALUATION — the "did the filter work" stage
    // that closes the train→serve→eval loop: the q201-trained model
    // scores the WHOLE corpus through the unchanged q123 serving plan
    // and the gate is the confusion matrix (label × verdict counts) plus
    // the exact per-cell BIGINT score sums — a drifted weight, a serving
    // /training feature-hash mismatch, or a verdict-threshold bug each
    // move a cell. The oracle extends the shared training CTEs with the
    // scoring join and the same aggregation. The matrix is also an
    // honest diagnostic: at sf0.01 the 250/500 split is balanced, while
    // at sf0.1 the same rule is a 5%-positive split and 3 rounds of
    // fixed-η GD predict the majority class — exactly the class-
    // imbalance failure an eval stage exists to surface (the gate
    // checks EXACTNESS of the reported matrix, not model quality;
    // quality-on-a-separable-split is pinned in TextPipelineSpec).
    QueryDef.sql("q206_classifier_eval",
      s"""WITH ${trainCtes(3)},
         |${scoreCte(3)},
         |ev AS (SELECT t.doc_id, t.doc_id < 250 AS is_target,
         |         COALESCE(sc.score, 0) > 0 AS predicted,
         |         COALESCE(sc.score, 0) AS score
         |       FROM t LEFT JOIN sc USING (doc_id))
         |SELECT is_target, predicted, COUNT(*) AS n,
         |  CAST(SUM(score) AS BIGINT) AS sum_score
         |FROM ev GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val w = graft.llm.Scoring.trainLogistic(docs, "doc_id", "text",
        col("doc_id") < 250, buckets = 1024, iters = 3)
      graft.llm.Scoring.scoreWithWeights(docs, "doc_id", "text", w)
        .select((col("doc_id") < 250).as("is_target"),
          col("is_quality").as("predicted"), col("score"))
        .groupBy("is_target", "predicted")
        .agg(count(lit(1)).as("n"), sum(col("score")).as("sum_score"))
    },

    // ---- q206b: CLASS-WEIGHTED TRAINING under imbalance (r11 verdict
    // item 7 — closing the q206 finding): on the content-derived
    // 5%-positive split (docs carrying the rare 'dup' marker), plain
    // fixed-η GD collapses to the majority class — every round's
    // gradient is negative-dominated. trainLogisticBalanced weights
    // minority residuals by the integer class ratio (pw = neg div pos,
    // derived from the data, so the fix needs no per-SF tuning) under a
    // harmonic lr decay (eta_k = eta_1/k — fixed-step weighted GD
    // oscillates between the two collapses; the sweep that chose this
    // is recorded in PLANS_r12.md), and 40 rounds separate the split at
    // both shipped SFs. The oracle replays the weighted decayed unroll
    // exactly (pw CTE + weighted residuals + weighted step mass + per-
    // round divisor nd*k);
    // the Spark side additionally REQUIRES genuine separation — both
    // off-diagonal cells strictly better than the majority collapse
    // (some true positives; false positives below the all-positive
    // collapse) — so a silent regression to either collapse fails the
    // gate even before the matrix hash does.
    QueryDef.sql("q206b_classifier_eval_weighted",
      s"""WITH ${trainCtes(40, "", "list_contains(t.toks, 'dup')", balanced = true)},
         |${scoreCte(40)},
         |ev AS (SELECT t.doc_id, list_contains(t.toks, 'dup') AS is_target,
         |         COALESCE(sc.score, 0) > 0 AS predicted,
         |         COALESCE(sc.score, 0) AS score
         |       FROM t LEFT JOIN sc USING (doc_id))
         |SELECT is_target, predicted, COUNT(*) AS n,
         |  CAST(SUM(score) AS BIGINT) AS sum_score
         |FROM ev GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val labelCol = array_contains(
        graft.functions.TextFns.tokens(col("text")), "dup")
      val w = graft.llm.Scoring.trainLogisticBalanced(docs, "doc_id", "text",
        labelCol, buckets = 1024, iters = 40)
      val labels = docs.select(col("doc_id"), labelCol.as("is_target"))
      val matrix = graft.llm.Scoring.scoreWithWeights(docs, "doc_id", "text", w)
        .join(labels, Seq("doc_id"))
        .select(col("is_target"),
          col("is_quality").as("predicted"), col("score"))
        .groupBy("is_target", "predicted")
        .agg(count(lit(1)).as("n"), sum(col("score")).as("sum_score"))
      val cells = matrix.collect()
        .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
        .withDefaultValue(0L)
      val (tp, fn) = (cells((true, true)), cells((true, false)))
      val (fp, tn) = (cells((false, true)), cells((false, false)))
      require(tp > fn,
        s"q206b: weighted model still majority-collapsed (tp=$tp fn=$fn)")
      require(tn > fp,
        s"q206b: weighted model collapsed to all-positive (fp=$fp tn=$tn)")
      matrix
    },

    // ---- q207: the q127 curation pipeline running the TRAINED
    // classifier — the capstone the q201/q206 chain builds toward: fit
    // the model distributed (3 fixed-point GD rounds over the raw
    // corpus), then gate the pipeline's quality stage with the trained
    // weights instead of the frozen table. The oracle composes three
    // shared fragments — the dedup/CC chain, the prefixed training
    // unroll, and the LM-select-pack tail — with ONE new CTE (`ck` = the
    // dedup survivors the trained model scores positive), so a drift in
    // ANY stage (mining, training, serving, selection, packing) moves
    // the packed layout and fails the hash.
    QueryDef.sql("q207_trained_curation_pipeline",
      s"""WITH RECURSIVE
         |${dedupCcCtes("documents")},
         |${trainCtes(10, "tr_", "list_contains(t.toks, 'dup')")},
         |${scoreCte(10, "tr_")},
         |ck AS (SELECT k.doc_id, k.toks FROM kept k LEFT JOIN sc USING (doc_id)
         |       WHERE COALESCE(sc.score, 0) > 0),
         |${lmPackFromCk("documents WHERE doc_id < 250", 15000)}
         |${packedSelectSql(512)}""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // a CONTENT-derived target (docs whose tokens include 'dup' — the
      // fixture's rare 5%-df marker) so the fit is a real classification
      // problem; 10 fixed-lr hard-sigmoid rounds PARTIALLY separate it
      // (the honest behavior of integer batch GD without lr decay —
      // measured ~25% recall / ~60% precision at both shipped SFs),
      // which is exactly what makes the gate non-trivial: the survivor
      // set is the model's actual verdict, not the label
      val w = graft.llm.Scoring.trainLogistic(docs, "doc_id", "text",
        array_contains(graft.functions.TextFns.tokens(col("text")), "dup"),
        buckets = 1024, iters = 10)
      graft.llm.Curation.pipeline(docs, "doc_id", "text",
          lmRef = docs.filter(col("doc_id") < 250),
          tokenBudget = 15000, seqLen = 512,
          clfWeights = Some(w)).packed
        .orderBy("doc_id")
    }
  )

  /** Shared q201/q206/q207 oracle fragment: the hashed-feature design
    * CTEs plus `iters` unrolled fixed-point GD rounds, ending in
    * `<x>w<iters>` (b, w) — one definition so the eval/pipeline gates
    * cannot drift from the training gate they extend. `x` prefixes
    * every CTE name so the fragment composes with chains that already
    * use t/fe/bo (q207 pairs it with the dedup + pack chains). */
  private def trainCtes(iters: Int, x: String = "",
                        labelSql: String = "t.doc_id < 250",
                        balanced: Boolean = false): String = {
    val S = graft.llm.Scoring.TrainScale
    // balanced mode mirrors Scoring.trainLogisticBalanced: an integer
    // positive-class weight pw = max(1, negatives // positives), positive
    // residuals scaled pw×, and the step denominator the WEIGHTED mass
    val wRes = if (balanced)
      s"(p.p - p.y * $S) * (CASE WHEN p.y = 1 THEN pw.pw ELSE CAST(1 AS BIGINT) END)"
    else s"p.p - p.y * $S"
    val unrolled = (1 to iters).map { k =>
      s"""${x}m$k AS MATERIALIZED (SELECT bo.doc_id, CAST(SUM(w.w) AS BIGINT) AS m
         |  FROM ${x}bo bo JOIN ${x}w${k - 1} w USING (b) GROUP BY 1),
         |${x}p$k AS MATERIALIZED (SELECT t.doc_id,
         |    CASE WHEN $labelSql THEN CAST(1 AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS y,
         |    GREATEST(CAST(0 AS BIGINT), LEAST(CAST($S AS BIGINT),
         |      ${S / 2} + COALESCE(m.m, 0) // 4)) AS p
         |  FROM ${x}t t LEFT JOIN ${x}m$k m USING (doc_id)),
         |${x}g$k AS MATERIALIZED (SELECT bo.b, CAST(SUM($wRes) AS BIGINT) AS g
         |  FROM ${x}bo bo JOIN ${x}p$k p USING (doc_id)${if (balanced) s" CROSS JOIN ${x}pw pw" else ""} GROUP BY 1),
         |${x}w$k AS MATERIALIZED (SELECT w.b, w.w - (COALESCE(g.g, CAST(0 AS BIGINT)) // ${if (balanced) s"(nd * $k)" else "nd"}) AS w
         |  FROM ${x}w${k - 1} w LEFT JOIN ${x}g$k g USING (b) CROSS JOIN ${x}n)""".stripMargin
    }.mkString(",\n")
    s"""${x}t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |${x}f AS (SELECT doc_id, list_concat(toks,
       |        list_transform(generate_series(1, greatest(len(toks)-1, 0)),
       |          i -> toks[i] || ' ' || toks[i+1])) AS feats FROM ${x}t),
       |${x}fe AS (SELECT doc_id, unnest(feats) AS f FROM ${x}f),
       |${x}bo AS MATERIALIZED (SELECT doc_id,
       |         CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 1024 AS b
       |       FROM ${x}fe),
       |${if (balanced)
           s"""${x}pw AS (SELECT GREATEST(CAST(1 AS BIGINT),
              |    CAST(SUM(CASE WHEN NOT ($labelSql) THEN 1 ELSE 0 END) AS BIGINT)
              |    // CAST(SUM(CASE WHEN $labelSql THEN 1 ELSE 0 END) AS BIGINT)) AS pw
              |  FROM ${x}t t),
              |${x}n AS (SELECT CAST(SUM(CASE WHEN $labelSql THEN pw.pw ELSE 1 END) AS BIGINT) AS nd
              |  FROM ${x}t t CROSS JOIN ${x}pw pw),""".stripMargin
         else s"${x}n AS (SELECT COUNT(*) AS nd FROM ${x}t),"}
       |${x}w0 AS MATERIALIZED (SELECT unnest(generate_series(0, 1023)) AS b,
       |              CAST(0 AS BIGINT) AS w),
       |$unrolled""".stripMargin
  }

  /** The serving join over [[trainCtes]]'s artifacts: per-doc BIGINT
    * score under the round-`iters` weights (shared by q206 and q207 so
    * the two gates score through ONE SQL definition). */
  private def scoreCte(iters: Int, x: String = ""): String =
    s"""sc AS (SELECT bo.doc_id, CAST(SUM(w.w) AS BIGINT) AS score
       |       FROM ${x}bo bo JOIN ${x}w$iters w USING (b) GROUP BY 1)"""
      .stripMargin

  // q134's Spark side, split out so the defs list stays readable
  private def q134Spark(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
      val d = col("doc_id")
      // identical PII synthesis to q93 (the fixture corpus carries none)
      val piiText = concat(col("text"),
        when(d % 3 === 0, concat(lit(" contact user"), d.cast("string"),
          lit("@mail"), (d % 7).cast("string"), lit(".example.com"))).otherwise(""),
        when(d % 4 === 0, concat(lit(" call 555-"),
          lpad(((d * 37) % 1000).cast("string"), 3, "0"), lit("-"),
          lpad(((d * 91) % 10000).cast("string"), 4, "0"))).otherwise(""),
        when(d % 5 === 0, concat(lit(" from 10."), (d % 256).cast("string"),
          lit(".0."), ((d * 3) % 256).cast("string"))).otherwise(""))
      val injected = Tables.documents(s, dir).select(d, piiText.as("text"))
      graft.llm.Curation.pipeline(
          injected.filter(d % 10 =!= 0), "doc_id", "text",
          lmRef = injected.filter(d < 250),
          tokenBudget = 15000, seqLen = 512,
          evalDocs = Some(injected.filter(d % 10 === 0)),
          piiScrub = true).packed
        .orderBy("doc_id")
  }
}
