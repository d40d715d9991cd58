"""LLM training-data and multimodal operators (key prefixes ``llm_``,
``mm_``): text analysis, the dedup family (exact, n-gram, MinHash,
SimHash, embedding, paragraph, prefix, cross-snapshot) and its apply
step, similarity search (brute force, IVF, PQ, k-NN join), tokenizer
training and encoding, curation (quality, language, PII, decontamination,
splits) and multimodal decode/resize/feature plumbing (SURVEY.md §2B
``llm_*`` + the training-data extensions from BASELINE.json north_star).

Iterative keys (connected components, BPE merges, centroid training)
run Spark jobs while their DataFrame is built (``eager="compute"``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import catalog, memo
from ..operators import multimodal
from ..operators.dedup import (
    minhash_banded_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.simsearch import (
    SQL_COSINE,
    brute_force_topk,
    cosine_expr,
    ivf_topk,
    quant6,
)
from ..operators.text import (
    LANG_ORDER,
    SQL_FINGERPRINT,
    ascii_lower,
    fingerprint,
    lang_score,
    lang_tokens,
    sql_lang_score,
)
from . import Query
from ._util import fquant, spread, sql_vec_dim_ok, t, vec_dim_ok, vec_finite


# ---------------------------------------------------------------- text ops


def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per language (count desc, term asc) + per-lang totals."""
    docs = t(spark, sf_dir, "documents")
    terms = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    counts = terms.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("term_count")
    )
    # totals derive from counts — a second groupBy over `terms` would
    # re-run the whole tokenize+explode pass for a sum the (much smaller)
    # counts table already contains.
    totals = counts.groupBy("lang").agg(
        F.sum("term_count").alias("lang_tokens")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("term_count").desc(), F.col("term")
    )
    return (
        counts.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .join(totals, "lang")
        .select("lang", "term", "term_count",
                F.col("term_rank").cast("int").alias("term_rank"),
                "lang_tokens")
    )


LLM_TEXT_STATS_SQL = """
WITH terms AS (
    SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
), filtered AS (
    SELECT * FROM terms WHERE term <> ''
), counts AS (
    SELECT lang, term, COUNT(*) AS term_count
    FROM filtered GROUP BY lang, term
), totals AS (
    SELECT lang, COUNT(*) AS lang_tokens FROM filtered GROUP BY lang
)
SELECT c.lang, c.term, c.term_count,
       CAST(rn AS INTEGER) AS term_rank, t.lang_tokens
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY term_count DESC, term) AS rn
    FROM counts
) c JOIN totals t ON c.lang = t.lang
WHERE rn <= 3
"""


def llm_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language/quality gate + per-source stats — the canonical corpus
    pre-filter step."""
    docs = t(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de") & F.col("n_chars").between(100, 400)
    )
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("doc_count"),
        fquant(
            F.sum(F.col("n_chars").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            2,
        ).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


LLM_LANG_FILTER_SQL = """
SELECT lang, source,
       COUNT(*) AS doc_count,
       floor(CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) * 100.0) / 100.0 AS avg_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
WHERE lang IN ('en', 'de') AND n_chars BETWEEN 100 AND 400
GROUP BY lang, source
"""


def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with deterministic argmax tie-breaking
    (engine-verifiable heuristic; see operators/text.py)."""
    docs = t(spark, sf_dir, "documents")
    # Tokenize ONCE in its own projection: CollapseProject keeps the
    # non-cheap lower+split out of the five per-language scores (inlined,
    # it re-evaluates 5× per row — the round-4 0.45→0.80 s warm swing).
    tokenized = docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        lang_tokens().alias("_toks"),
    )
    scored = tokenized.select(
        "doc_id",
        "labeled_lang",
        *[lang_score(lg, F.col("_toks")).alias(f"s_{lg}") for lg in LANG_ORDER],
    )
    guess = None
    for lg in LANG_ORDER:
        cond = None
        for other in LANG_ORDER:
            if other == lg:
                continue
            ge = F.col(f"s_{lg}") >= F.col(f"s_{other}") if LANG_ORDER.index(
                other
            ) > LANG_ORDER.index(lg) else F.col(f"s_{lg}") > F.col(f"s_{other}")
            cond = ge if cond is None else (cond & ge)
        guess = (
            F.when(cond, F.lit(lg)) if guess is None else guess.when(cond, F.lit(lg))
        )
    return scored.select(
        "doc_id",
        "labeled_lang",
        *[F.col(f"s_{lg}").cast("bigint").alias(f"s_{lg}") for lg in LANG_ORDER],
        F.coalesce(guess, F.lit(LANG_ORDER[0])).alias("guessed_lang"),
    )


def _sql_lang_id() -> str:
    scores = ",\n       ".join(
        f"CAST({sql_lang_score(lg)} AS BIGINT) AS s_{lg}" for lg in LANG_ORDER
    )
    # argmax with the same priority tie-break: earlier langs win ties
    # against later langs (>=), must strictly beat earlier langs (>).
    cases = []
    for lg in LANG_ORDER:
        conds = []
        for other in LANG_ORDER:
            if other == lg:
                continue
            op = ">=" if LANG_ORDER.index(other) > LANG_ORDER.index(lg) else ">"
            conds.append(f"s_{lg} {op} s_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{LANG_ORDER[0]}' END"
    return f"""
WITH scored AS (
    SELECT doc_id, lang AS labeled_lang,
       {scores}
    FROM documents
)
SELECT doc_id, labeled_lang, {', '.join('s_' + lg for lg in LANG_ORDER)},
       {case_sql} AS guessed_lang
FROM scored
"""


LLM_LANG_ID_SQL = _sql_lang_id()


def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: token count, mean token length, stopword
    ratio, non-alpha ratio → weighted score (per-row IEEE, identical in
    both engines)."""
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("double")
    n_chars = F.length("text").cast("double")
    # Token-exact stopword counting, NOT a \b regex: RE2's \b is
    # ASCII-only while Java's is unicode-aware, so "a" inside "ação"
    # is a word boundary to DuckDB and none to Spark (found by the
    # round-4 unicode drift sweep). Counting split tokens is identical
    # on both engines under any content.
    stop = F.size(
        F.filter(
            F.split(ascii_lower(F.col("text")), " "),
            lambda tok: tok.isin("the", "a", "and", "of", "to"),
        )
    ).cast("double")
    nonalpha = F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z \t\n\r\f\x0B]")).cast(
        "double"
    )
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok
    stop_ratio = stop / n_tok
    # try_divide: an empty doc has n_chars = 0, and ANSI Spark errors on
    # 0/0 where the oracle's NULLIF divisor yields NULL (empty-string
    # drift sweep); NULL then propagates into the score on both engines.
    nonalpha_ratio = F.try_divide(nonalpha, n_chars)
    score = (
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.4
        + F.least(mean_tok_len / 8.0, F.lit(1.0)) * 0.2
        + stop_ratio * 0.2
        + (F.lit(1.0) - nonalpha_ratio) * 0.2
    )
    # floor-quantize instead of round: the unquantized doubles are
    # bit-identical across engines (same IEEE expression), and floor of
    # identical doubles is identical — ROUND(double) is not (Spark rounds
    # the shortest decimal repr, DuckDB the binary value; diverges at
    # half boundaries, observed at sf0.1). fquant is the shared single
    # source of that floor-quantization discipline.
    return docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        fquant(mean_tok_len, 4).alias("mean_token_len"),
        fquant(stop_ratio, 4).alias("stopword_ratio"),
        fquant(nonalpha_ratio, 4).alias("nonalpha_ratio"),
        fquant(score, 4).alias("quality_score"),
    )


LLM_QUALITY_SQL = r"""
WITH m AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(len(list_filter(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '),
                               t -> t IN ('the','a','and','of','to')))
                AS DOUBLE) AS stop,
           CAST(len(regexp_extract_all(text, '[^A-Za-z \t\n\r\f\x0B]')) AS DOUBLE)
               AS nonalpha
    FROM documents
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       floor((n_chars - (n_tok - 1)) / n_tok * 10000.0) / 10000.0
           AS mean_token_len,
       floor(stop / n_tok * 10000.0) / 10000.0 AS stopword_ratio,
       floor(nonalpha / NULLIF(n_chars, 0) * 10000.0) / 10000.0 AS nonalpha_ratio,
       floor((least(n_tok / 100.0, 1.0) * 0.4
              + least(((n_chars - (n_tok - 1)) / n_tok) / 8.0, 1.0) * 0.2
              + (stop / n_tok) * 0.2
              + (1.0 - nonalpha / NULLIF(n_chars, 0)) * 0.2) * 10000.0) / 10000.0
           AS quality_score
FROM m
"""


def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish subword piece count (letter runs, digit
    runs, punctuation singles — a cheap proxy for tokenizer cost)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count(
            ascii_lower(F.col("text")),
            F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f\x0B]"),
        ).cast("bigint").alias("bpe_ish_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
    )


LLM_TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f\x0B]'))
            AS BIGINT) AS bpe_ish_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_measured
FROM documents
"""


def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint of normalized text + duplicate-group flag."""
    docs = t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", fingerprint().alias("fp"))
    w = Window.partitionBy("fp")
    return fp.select(
        "doc_id", "fp", (F.count(F.lit(1)).over(w) > 1).alias("is_dup")
    )


LLM_FINGERPRINT_SQL = f"""
SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) > 1 AS is_dup
FROM (SELECT doc_id, {SQL_FINGERPRINT} AS fp FROM documents)
"""

# ---------------------------------------------------------------- dedup


# Stop-shingle cap: shingles appearing in more documents than this are
# boilerplate and are removed from the shingle universe (intersections AND
# set sizes) before the pair join — one hot shingle otherwise makes the
# self-join quadratic in its document frequency. 50 is ~10% of the sf0.01
# corpus; at production scale set it to a small fraction of corpus size.
NGRAM_MAX_SHINGLE_DF = 50

# Shared oracle CTE chain for the capped trigram-Jaccard pair join —
# mirrors operators/dedup.py:ngram_jaccard_pairs exactly: global shingle
# document frequency, cap filter, equi-join intersection counts, set
# sizes over the capped universe.
_NGRAM_PAIRS_CTES = f"""d AS (
    SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), g AS (
    SELECT doc_id, lang,
           list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          for i in range(1, len(toks) - 1)]) AS grams
    FROM d WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, lang, unnest(grams) AS gram FROM g
), kept AS (
    SELECT ex.doc_id, ex.lang, ex.gram
    FROM ex JOIN (SELECT gram FROM ex GROUP BY gram
                  HAVING COUNT(*) <= {NGRAM_MAX_SHINGLE_DF}) cold
      USING (gram)
), sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM kept a JOIN kept b
      ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), scored_pairs AS (
    SELECT i.doc_a, i.doc_b,
           floor(i.inter * 1.0 / (sa.n + sb.n - i.inter) * 10000.0)
               / 10000.0 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
)"""


def llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs (threshold 0.8, lang-blocked,
    stop-shingle cap active — see NGRAM_MAX_SHINGLE_DF)."""
    return ngram_jaccard_pairs(
        spread(t(spark, sf_dir, "documents"), sf_dir, "documents"),
        threshold=0.8, block_col="lang",
        max_shingle_df=NGRAM_MAX_SHINGLE_DF,
    )


LLM_DEDUP_NGRAM_SQL = f"""
WITH {_NGRAM_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM scored_pairs WHERE jaccard >= 0.8
"""


EDITDIST_BLOCK_JACCARD = 0.5
EDITDIST_MAX_REL = 0.4
EDITDIST_PREFIX_BYTES = 1024  # lev is O(L^2)/pair; cap the compared prefix


def llm_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: n-gram Jaccard blocking (threshold
    0.5 — the same capped shingle join as llm_dedup_ngram, just looser)
    followed by an exact Levenshtein verify on the candidate pairs,
    keeping pairs whose relative edit distance (lev / longer length) is
    ≤ 0.4. The character-level complement of the token-level dedup
    family: it catches small in-place edits (typo fixes, template
    fills) that shift many shingles at once.

    Scale: Levenshtein is O(|a|·|b|) per pair — the blocking step is
    what makes it affordable (candidates only, never all pairs), and
    the verify is one broadcast-free join of the candidate list back to
    the two text columns. Determinism: both engines implement classic
    character-Levenshtein (identical integers) and the relative ratio
    is one IEEE division of identical ints, floor-quantized.

    Contract: the distance covers the first EDITDIST_PREFIX_BYTES (1 KiB)
    of each text only — see ARCHITECTURE.md §"Dedup family" (Edit
    distance) for the consumer-facing implications and the re-verify
    recipe for full-text identity."""
    docs = spread(t(spark, sf_dir, "documents"), sf_dir, "documents")
    cand = ngram_jaccard_pairs(
        docs, threshold=EDITDIST_BLOCK_JACCARD, block_col="lang",
        max_shingle_df=NGRAM_MAX_SHINGLE_DF,
    ).select("doc_a", "doc_b")
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    # Levenshtein over the HEX of the utf-8 bytes, not the raw strings:
    # Spark edits UTF-16 code units while DuckDB edits bytes, so any
    # astral character (emoji) makes the raw distances disagree (found
    # by the round-4 unicode drift sweep). Hex strings are pure ASCII —
    # one unit in every engine — so the distance is engine-independent
    # under arbitrary content; it measures byte-level edits at 2 units
    # per byte, and the ratio normalizes by the hex length accordingly.
    # The compared prefix is capped (EDITDIST_PREFIX_BYTES): Levenshtein
    # is O(L^2) per pair, so unbounded doc growth would make the verify
    # the pipeline's bottleneck; the Jaccard blocking already guarantees
    # global similarity and the prefix confirms character-level identity.
    def hx(c):
        return F.substring(
            F.hex(F.col(c).cast("binary")), 1, EDITDIST_PREFIX_BYTES * 2
        )

    lev = F.levenshtein(hx("text_a"), hx("text_b"))
    rel = lev / F.greatest(F.length(hx("text_a")), F.length(hx("text_b")))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # named prefix_lev, not lev: the distance (and the ratio's
            # denominator) covers only the capped prefix — two docs
            # identical for the first KiB score 0.0 even if their tails
            # diverge, which blocking mitigates but cannot exclude; a
            # consumer needing full-text identity must re-verify.
            lev.alias("prefix_lev"),
            (F.floor(rel * 10000.0) / 10000.0).alias("rel_dist"),
        )
        .filter(F.col("rel_dist") <= EDITDIST_MAX_REL)
    )


LLM_DEDUP_EDITDIST_SQL = f"""
WITH {_NGRAM_PAIRS_CTES},
cand AS (
  SELECT doc_a, doc_b FROM scored_pairs WHERE jaccard >= {EDITDIST_BLOCK_JACCARD}
)
SELECT doc_a, doc_b, prefix_lev,
       floor(prefix_lev * 1.0 / den * 10000.0) / 10000.0 AS rel_dist
FROM (
  -- compute the O(L^2) distance ONCE per pair; DuckDB does not promise
  -- CSE between projection and filter
  SELECT c.doc_a, c.doc_b,
         levenshtein(
           substring(upper(hex(encode(da.text))), 1, {EDITDIST_PREFIX_BYTES * 2}),
           substring(upper(hex(encode(db.text))), 1, {EDITDIST_PREFIX_BYTES * 2})
         ) AS prefix_lev,
         greatest(
           length(substring(hex(encode(da.text)), 1, {EDITDIST_PREFIX_BYTES * 2})),
           length(substring(hex(encode(db.text)), 1, {EDITDIST_PREFIX_BYTES * 2}))
         ) AS den
  FROM cand c
  JOIN documents da ON da.doc_id = c.doc_a
  JOIN documents db ON db.doc_id = c.doc_b
)
WHERE floor(prefix_lev * 1.0 / den * 10000.0) / 10000.0 <= {EDITDIST_MAX_REL}
"""


def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (rows-only: LSH is approximate by
    design). Round 4 swapped the MLlib ``approxSimilarityJoin`` backend
    for the pure-JVM banded formulation (operators/dedup.py::
    minhash_banded_pairs): measured 1.4× faster warm at sf0.1 with an
    IDENTICAL pair set (256 = 256, zero asymmetric pairs) and slightly
    more faithful distances (exact trigram sets instead of HashingTF's
    2^18-bucket collision-lossy sets; max observed delta 2e-4). The
    MLlib variant remains available and head-to-head-tested."""
    return minhash_banded_pairs(
        spread(t(spark, sf_dir, "documents"), sf_dir, "documents"),
        dist_threshold=0.5,
    )


def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash band-blocked near-dup candidates. Graduated from
    rows-only to HASH-CHECKED in round 6: the banding is approximate
    relative to "all pairs with Hamming ≤ 6", but it is DETERMINISTIC —
    the oracle replays the identical pipeline (md5-derived 64-bit token
    hashes via DuckDB's native ``md5_number_upper``, per-bit majority
    vote, 4×16-bit band blocking, popcount verify), so the exact pair
    set is checkable even though the operator is an approximation."""
    return simhash_pairs(
        spread(t(spark, sf_dir, "documents"), sf_dir, "documents"),
        max_hamming=6,
    )


LLM_DEDUP_SIMHASH_SQL = """
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(string_split(COALESCE(text, ''), ' '),
                              x -> x <> '')) AS tk
    FROM documents
), nt AS (
    SELECT doc_id, COUNT(*) AS n_toks FROM tok GROUP BY doc_id
), bitvote AS (
    SELECT doc_id, i.i AS i,
           SUM(CASE WHEN (md5_number_upper(tk) >> i.i) & 1 = 1
                    THEN 1 ELSE 0 END) AS ones
    FROM tok CROSS JOIN (SELECT unnest(range(64)) AS i) i
    GROUP BY doc_id, i.i
), sig AS (
    SELECT v.doc_id,
           CAST(SUM(CASE WHEN v.ones * 2 > nt.n_toks
                         THEN (CAST(1 AS UBIGINT) << CAST(v.i AS INT))
                         ELSE CAST(0 AS UBIGINT) END)
                AS UBIGINT) AS sig
    FROM bitvote v JOIN nt USING (doc_id)
    GROUP BY v.doc_id
    UNION ALL
    -- token-less docs (NULL/empty text) carry signature 0 in the engine
    -- (the Pandas UDF emits 0) and DO enter the banding
    SELECT d.doc_id, CAST(0 AS UBIGINT)
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM nt)
), bands AS (
    SELECT doc_id, sig, b.b AS band_idx,
           (sig >> CAST(b.b * 16 AS INT)) & 65535 AS band_val
    FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) b
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.sig AS sig_a, b.sig AS sig_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 6
"""


def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, cosine ≥ 0.4, blocked by label
    with a bounded block cap (SemDeDup-style: oversized label blocks are
    KMeans-sub-clustered so within-block all-pairs stays linear overall).

    The cap here is set ABOVE any possible fixture block (the embeddings
    table is 500 rows total at every sf, so even a single-label
    regeneration peaks at 500): sub-clustering approximates (it drops
    pairs straddling sub-clusters), and this key is hash-checked against
    an exact all-pairs-within-label oracle — a regenerated fixture that
    silently crossed a 256 cap would flip the key to the approximate
    path and red the oracle with no code change. The production default
    (operators/dedup.py, max_block=256) and its sub-clustering recall
    test are unchanged."""
    from ..operators.dedup import embedding_cosine_pairs

    # poisoned-vector + ragged-dim exclusion (vec_finite / vec_dim_ok)
    raw = spread(t(spark, sf_dir, "embeddings"), sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite()).select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    return embedding_cosine_pairs(
        emb, threshold=0.4, block_col="label", max_block=4096
    )


LLM_DEDUP_EMBEDDING_SQL = f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
)
SELECT vec_a, vec_b, label, cosine FROM (
    -- cosine computed ONCE in a subquery: DuckDB does not promise CSE
    -- between projection and filter (the llm_dedup_editdist lesson),
    -- and the duplicated evaluation was this oracle's dominant cost
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           floor(({SQL_COSINE.replace('va', 'a.v').replace('vb', 'b.v')})
                 * 1000000.0) / 1000000.0 AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
WHERE cosine >= 0.4
"""

# ------------------------------------------------------------ similarity


def _min_vec_id(emb: DataFrame) -> int:
    """Deterministic probe choice: the MINIMUM vec_id. Id-space
    invariant (a fixture whose ids are shifted, negative, or sparse
    still has a minimum — the old hardcoded `vec_id 0` raised its loud
    missing-probe error on the round-10 negative-ids sweep). O(1)
    driver-side scalar: one map-side-combinable min. Falls back to 0 on
    an EMPTY corpus so the operators' empty-schema branch engages."""
    row = emb.agg(F.min("vec_id")).first()
    return row[0] if row is not None and row[0] is not None else 0


def llm_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of the minimum-id vector."""
    # poisoned-vector + ragged-dim exclusion (float-specials contract
    # _util.vec_finite; round-12 ragged-dims contract _util.vec_dim_ok)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite())
    return brute_force_topk(emb, probe_vec_id=_min_vec_id(emb), k=10)


LLM_SIM_SEARCH_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
), p AS (
    SELECT MIN(vec_id) AS pid FROM e
), probe AS (
    SELECT va AS vb FROM e WHERE vec_id = (SELECT pid FROM p)
)
SELECT vec_id, cosine FROM (
    SELECT e.vec_id,
           floor(({SQL_COSINE.replace('va', 'e.va').replace('vb', 'probe.vb')})
                 * 1000000.0) / 1000000.0 AS cosine
    FROM e, probe
    WHERE e.vec_id <> (SELECT pid FROM p)
)
WHERE cosine IS NOT NULL
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


def llm_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned approximate top-10 (rows-only: cluster pruning is the
    approximation — recall vs. brute force is measured in tests).
    nprobe=12 of 16 spherical-KMeans centroids: the fixture embeddings
    are near-uniform on the sphere, so neighbor lists scatter across
    clusters and recall@10 >= 0.9 needs most clusters scanned (measured
    0.9-1.0 at nprobe=12 across sf0.001/0.01/0.1). On clustered
    real-world embeddings a small nprobe recovers — see the synthetic
    clustered recall test in tests/test_operators.py. The coarse
    quantizer is trained once per corpus content, not once per probe
    (see ivf_topk)."""
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite())
    return ivf_topk(
        emb, probe_vec_id=_min_vec_id(emb), k=10,
        n_centroids=16, nprobe=12,
    )


def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any 8-gram
    with a held-out eval set (here: doc_id < 10 stands in for the
    benchmark). The canonical n-gram-overlap decontamination step of LLM
    training pipelines (8 is the usual window), as a shingle equi-join:
    explode eval 8-grams (tiny side, broadcast) ⇒ semi-join the corpus —
    scales as one map-side join pass over the corpus at 100 TB."""
    from ..operators.text import word_ngrams

    docs = t(spark, sf_dir, "documents")

    def eightgrams(df: DataFrame) -> DataFrame:
        # word_ngrams guards the sequence bound: docs with <8 tokens yield
        # an empty array instead of INVALID_ARRAY_INDEX (matches the
        # oracle's len(toks) >= 8 predicate).
        return df.select("doc_id", word_ngrams(8).alias("grams")).filter(
            F.size("grams") > 0
        )

    eval_grams = (
        eightgrams(docs.filter(F.col("doc_id") < 10))
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    # spread the corpus side after its pushed-down filter: the 8-gram
    # shingle explode + broadcast-join probe is per-row compute that
    # would otherwise run on the single row-group's one scan task
    # (guide §2.5); the eval side stays as-is (tiny by construction).
    corpus = eightgrams(
        spread(docs.filter(F.col("doc_id") >= 10), sf_dir, "documents")
    ).select("doc_id", F.explode("grams").alias("gram"))
    contaminated = (
        corpus.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_8grams"))
    )
    return contaminated


LLM_DECONTAMINATE_SQL = """
WITH g AS (
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+7], ' ')
                          for i in range(1, len(toks) - 6)]) AS grams
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= 8
), eval_grams AS (
    SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 10
), corpus AS (
    SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id >= 10
)
SELECT c.doc_id, COUNT(*) AS shared_8grams
FROM corpus c JOIN eval_grams e ON c.gram = e.gram
GROUP BY c.doc_id
"""


def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: redact email/phone/SSN-shaped spans and count
    redactions (JVM regexp_replace — one codegen'd map pass, no Python).
    The fixture corpus is synthetic and clean, so counts are 0 — the
    contract checks the transform is applied identically, not that PII
    exists."""
    docs = t(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    # no \b anchors: Java's \b is Unicode-aware while RE2's (DuckDB) is
    # ASCII-only, so a phone abutting a non-ASCII letter would count as
    # a boundary for one engine and not the other. The bare pattern
    # over-matches digit runs embedded in longer numbers, but it does so
    # IDENTICALLY in both engines — the portable choice for a scrubber.
    phone = r"\d{3}[-.]\d{3,4}[-.]\d{4}"
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"),
        phone,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_fp"),
        (
            F.regexp_count(F.col("text"), F.lit(email))
            + F.regexp_count(F.col("text"), F.lit(phone))
        ).cast("bigint").alias("redactions"),
    )


LLM_PII_SCRUB_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
               '\d{3}[-.]\d{3,4}[-.]\d{4}', '<PHONE>', 'g'))
           AS scrubbed_fp,
       CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            + len(regexp_extract_all(text,
                  '\d{3}[-.]\d{3,4}[-.]\d{4}')) AS BIGINT) AS redactions
FROM documents
"""


def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (per-vector absmax scale, floor
    quantizer) with reconstruction-error accounting — the 4× storage
    reduction op for embedding columns at 100 TB. Scalar outputs only
    (arrays don't hash-compare stably); q_l1 checks the integer codes,
    max_err the dequantization quality."""
    emb = t(spark, sf_dir, "embeddings").filter(vec_finite()).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    absmax = F.expr("aggregate(v, 0D, (acc, x) -> greatest(acc, abs(x)))")
    scale = absmax / 127.0
    q_l1 = F.expr(
        "aggregate(transform(v, x -> abs(floor(x / __scale))), 0L,"
        " (acc, x) -> acc + cast(x as bigint))"
    )
    max_err = F.expr(
        "aggregate(transform(v, x -> abs(x - floor(x / __scale) * __scale)),"
        " 0D, (acc, x) -> greatest(acc, x))"
    )
    return (
        emb.withColumn("__scale", scale)
        .filter(F.col("__scale") > 0)
        .select(
            "vec_id",
            (F.floor(F.col("__scale") * 1e9) / 1e9).alias("scale_q"),
            q_l1.alias("q_l1"),
            (F.floor(max_err * 1e9) / 1e9).alias("max_err_q"),
        )
    )


LLM_EMBED_QUANTIZE_SQL = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                   x -> abs(x))) / 127.0 AS s
    FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
)
SELECT vec_id,
       floor(s * 1e9) / 1e9 AS scale_q,
       CAST(list_sum(list_transform(v, x -> abs(floor(x / s)))) AS BIGINT)
           AS q_l1,
       floor(list_max(list_transform(v, x -> abs(x - floor(x / s) * s)))
             * 1e9) / 1e9 AS max_err_q
FROM e
WHERE s > 0
"""


def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus summary: volume, language spread, exact-dup rate —
    the first dashboard of any training-data pipeline."""
    docs = t(spark, sf_dir, "documents")
    fp = docs.select(fingerprint().alias("fp"))
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias(
            "total_ws_tokens"
        ),
    )
    dups = fp.agg(
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("exact_dup_docs")
    )
    return base.crossJoin(dups)


LLM_CORPUS_STATS_SQL = f"""
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       (SELECT COUNT(DISTINCT lang) FROM documents) AS n_langs,
       (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources,
       (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents) AS total_chars,
       (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        FROM documents) AS total_ws_tokens,
       (SELECT CAST(COUNT(*) - COUNT(DISTINCT {SQL_FINGERPRINT}) AS BIGINT)
        FROM documents) AS exact_dup_docs
"""


# ------------------------------------------------------------ multimodal


def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary multimodal column + Arrow-batched metadata extraction
    (operators/multimodal.py). The oracle recomputes the same typed
    metadata relationally — checking schema, ceil-div geometry, and byte
    accounting of the binary plumbing."""
    docs = t(spark, sf_dir, "documents")
    return multimodal.extract_metadata(multimodal.synthesize_payloads(docs))


MM_DECODE_META_SQL = """
SELECT doc_id,
       'IMG1' AS fmt,
       -- ((x % 64) + 64) % 64 mirrors Spark's pmod: DuckDB % keeps the
       -- dividend's sign, diverging on negative ids (round-10 sweep)
       CAST(((doc_id % 64) + 64) % 64 + 1 AS INTEGER) AS width,
       CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE)
                 / (((doc_id % 64) + 64) % 64 + 1)) AS INTEGER) AS height,
       CAST(octet_length(encode(text)) + 8 AS BIGINT) AS n_bytes
FROM documents
WHERE text IS NOT NULL
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out over binary payloads (every 4th 64-byte
    frame) — one payload → many frame rows through mapInPandas; the oracle
    recomputes frame geometry relationally."""
    docs = t(spark, sf_dir, "documents")
    return multimodal.frame_sample(
        multimodal.synthesize_payloads(docs), frame_size=64, every=4
    )


# frame_head: BYTE-addressed via the hex string (2 hex chars per byte) —
# a character-indexed substring(text, ...) would drift from the Spark
# side's byte slices on the first multi-byte utf-8 character.
MM_FRAME_SAMPLE_SQL = """
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_no,
       CAST(least(64, octet_length(encode(text)) - f * 64) AS BIGINT)
           AS frame_bytes,
       lower(substring(hex(encode(text)), f * 128 + 1, 16)) AS frame_head
FROM documents,
     LATERAL unnest(generate_series(
         0,
         CAST(ceil(octet_length(encode(text)) / 64.0) AS INTEGER) - 1,
         4)) AS t(f)
WHERE text IS NOT NULL
"""


def llm_repeat_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: fraction of duplicate word trigrams
    within each document — the Gopher-family quality filter (high
    repetition = boilerplate/spam/looped generation; public recipe:
    Rae et al. 2021 §A1.1 'repetition' filters). Entirely JVM-side: one
    ``transform`` over the token array per row (O(tokens), the lambda is
    interpreted but does constant work per element), no explode, no
    shuffle — a pure map pass at any corpus size.

    Float discipline: counts are exact ints; the fraction is one IEEE
    division, floor-quantized (``_util.fquant`` rules)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).filter(F.size("w") >= 3)
    tg = toks.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(w) - 2), "
            "i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"
        ).alias("tgs"),
    )
    counted = tg.select(
        "doc_id",
        F.size("tgs").cast("long").alias("n_trigrams"),
        F.size(F.array_distinct("tgs")).cast("long").alias("n_distinct"),
    )
    return counted.select(
        "doc_id",
        "n_trigrams",
        "n_distinct",
        fquant(
            (F.col("n_trigrams") - F.col("n_distinct"))
            / F.col("n_trigrams"),
            4,
        ).alias("repeat_frac"),
    )


LLM_REPEAT_NGRAM_SQL = """
WITH tg AS (
    SELECT doc_id,
           list_transform(range(1, len(w) - 1),
                          i -> concat_ws(' ', w[i], w[i+1], w[i+2])) AS tgs
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    WHERE len(w) >= 3
)
SELECT doc_id,
       CAST(len(tgs) AS BIGINT) AS n_trigrams,
       CAST(len(list_distinct(tgs)) AS BIGINT) AS n_distinct,
       floor((len(tgs) - len(list_distinct(tgs)))
             / CAST(len(tgs) AS DOUBLE) * 10000.0) / 10000.0
           AS repeat_frac
FROM tg
"""


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pass over binary payloads (operators/multimodal.py:
    ``resize_payloads``) — re-wraps each payload's geometry at a new
    width through the same Arrow-batched mapInPandas flow a real PIL
    resize would use. Completes the brief's decode / feature-extract /
    resize / frame-sample multimodal quartet as registry keys."""
    docs = t(spark, sf_dir, "documents")
    return multimodal.resize_payloads(
        multimodal.synthesize_payloads(docs), target_width=32
    )


MM_RESIZE_SQL = """
SELECT doc_id,
       CAST(32 AS INTEGER) AS width,
       CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 32)
            AS INTEGER) AS height,
       CAST(octet_length(encode(text)) + 8 AS BIGINT) AS n_bytes
FROM documents
WHERE text IS NOT NULL
"""


def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction over binary payloads (numpy per
    Arrow batch). Features are byte-exact under any utf-8 content, so
    the oracle recomputes them from the text side."""
    docs = t(spark, sf_dir, "documents")
    return multimodal.feature_extract(multimodal.synthesize_payloads(docs))


MM_FEATURE_EXTRACT_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(length(text) - length(replace(text, ' ', ''))
            AS BIGINT) AS n_space,
       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
            AS BIGINT) AS n_digit,
       CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
            AS BIGINT) AS n_upper
FROM documents
WHERE text IS NOT NULL
"""


def mm_audio_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-shaped windowed features over binary payloads: u8 sample
    windows -> integer energy statistics (count, sum, sum-of-squares,
    peak) per 256-byte window via Arrow-batched mapInPandas
    (operators/multimodal.py::audio_window). Integer sufficient
    statistics make the stub exactly recomputable by the oracle from the
    text bytes (hex-nibble decode), with no float summation order to
    pin; a real build swaps in a PCM decode + MFCCs through the same
    batch flow."""
    docs = t(spark, sf_dir, "documents")
    return multimodal.audio_window(multimodal.synthesize_payloads(docs))


MM_AUDIO_WINDOW_SQL = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents WHERE text IS NOT NULL
), b AS (
  SELECT doc_id, CAST(i // 256 AS INT) AS win_no,
         (strpos('0123456789ABCDEF',
                 substr(hx, CAST(i * 2 + 1 AS INT), 1)) - 1) * 16
         + strpos('0123456789ABCDEF',
                  substr(hx, CAST(i * 2 + 2 AS INT), 1)) - 1 AS v
  FROM h, UNNEST(range(nb)) u(i)
)
SELECT doc_id, win_no,
       CAST(COUNT(*) AS INT) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_b,
       CAST(SUM(v * v) AS BIGINT) AS sumsq_b,
       CAST(MAX(v) AS INT) AS max_b
FROM b
GROUP BY doc_id, win_no
"""


def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TF-IDF term per document.

    IDF is the *rational* form ``tf * N / df`` (not ``log``): a single
    integer multiply + one double division is bit-identical across engines,
    whereas ``ln`` is libm-dependent. Ranking uses the floor-quantized score
    with a lexicographic tie-break so the winner is engine-independent.

    Scale notes: ONE tokenize+explode pass builds the tf table, which is
    localCheckpointed and then feeds every downstream aggregate — df is
    just the per-term row count of tf (tf has one row per (doc, term)),
    and N is its distinct doc count, so neither re-scans or re-explodes
    the corpus (the previous formulation re-derived the explode lineage
    three times; same lesson as the shingle-table checkpoint in
    operators/dedup.py). N is a one-row broadcast. No driver-side
    collection.
    """
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "term",
            fquant(
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), "tfidf")
    )


LLM_TFIDF_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), f AS (
    SELECT doc_id, term FROM toks WHERE term <> ''
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM f GROUP BY doc_id, term
), dfreq AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM f GROUP BY term
), n AS (
    SELECT COUNT(DISTINCT doc_id) AS n_docs FROM f
), scored AS (
    SELECT doc_id, term,
           floor(CAST(tf * n_docs AS DOUBLE) / df * 10000.0) / 10000.0
               AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term AS top_term, tfidf
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored)
WHERE rn = 1
"""


def llm_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: trigram-Jaccard near-dup PAIRS (threshold 0.8,
    lang-blocked — same edge set as ``llm_dedup_ngram``) closed into
    transitively-connected components; every document gets a canonical
    ``cluster_id`` (min doc_id in its component) + the component size.
    Singletons cluster to themselves. This is the "pick one copy per dup
    group" step a training-data pipeline runs after pair detection."""
    from ..operators.graph import connected_components

    docs = t(spark, sf_dir, "documents")
    # spread only the shingle-pass input: the nodes relation feeds the
    # iterative component loop, where extra partitions inflate every
    # round's fixed cost (measured +0.6 s when nodes were spread too)
    pairs = ngram_jaccard_pairs(
        spread(docs, sf_dir, "documents"), threshold=0.8, block_col="lang",
        max_shingle_df=NGRAM_MAX_SHINGLE_DF,
    ).select("doc_a", "doc_b")
    comp = connected_components(
        docs.select("doc_id"), pairs,
        node_col="doc_id", src_col="doc_a", dst_col="doc_b",
    )
    w = Window.partitionBy("cluster_id")
    return comp.select(
        "doc_id", F.col("component").alias("cluster_id")
    ).withColumn("cluster_size", F.count(F.lit(1)).over(w))


# Transitive closure via recursive CTE (UNION = distinct termination),
# then min-reachable-id per node — semantically identical to the engine's
# iterative min-label propagation (operators/graph.py).
LLM_DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES}, pairs AS (
    SELECT doc_a, doc_b FROM scored_pairs WHERE jaccard >= 0.8
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


# ------------------------------------------------- chunking / packing

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive windows
PACK_BUDGET = 256


def llm_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — split every document into
    ``CHUNK_TOKENS``-token windows advancing by ``CHUNK_STRIDE`` (i.e.
    16-token overlap), the preprocessing step that turns documents into
    training sequences. One narrow shuffle-free pass: starts are computed
    per row with ``sequence``/``filter`` and fanned out with a lateral
    explode, so the op scales as a map over the corpus. ``chunk_id`` is
    derived from the start offset (start / stride), not array position,
    so engine enumeration order cannot matter."""
    docs = t(spark, sf_dir, "documents")
    toks = "split(text, ' ')"
    starts = F.expr(
        f"filter(sequence(0, greatest(0, size({toks}) - 1), {CHUNK_STRIDE}),"
        f" s -> s < size({toks}))"
    )
    # explode carries text alongside — a Generate (lateral view), NOT a
    # join back to the corpus; the whole op is one shuffle-free map.
    exploded = docs.select("doc_id", "text", F.explode(starts).alias("start"))
    chunk = F.expr(f"slice(split(text, ' '), start + 1, {CHUNK_TOKENS})")
    return exploded.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).cast("bigint").alias("chunk_tokens"),
    )


LLM_DOC_CHUNK_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), starts AS (
    SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS s
    FROM d
)
SELECT doc_id,
       CAST(s / {CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       array_to_string(list_slice(toks, s + 1, s + {CHUNK_TOKENS}), ' ')
           AS chunk_text,
       CAST(len(list_slice(toks, s + 1, s + {CHUNK_TOKENS})) AS BIGINT)
           AS chunk_tokens
FROM starts
"""


def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing (next-fit): stream documents in
    doc_id order within each lang and assign each to bin
    ``floor(tokens_before / PACK_BUDGET)`` — the deterministic packing a
    training pipeline uses to fill fixed-length contexts. One window pass
    (running sum) per lang partition; no driver-side loop, so packing
    scales with the shuffle, not the corpus."""
    docs = t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(n_tok).over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        F.floor(cum_before / PACK_BUDGET).cast("bigint").alias("seq_bin"),
    )


LLM_PACK_SEQUENCES_SQL = f"""
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(floor(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                               OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0)
                  / {PACK_BUDGET}) AS BIGINT) AS seq_bin
FROM documents
"""


# ------------------------------------------------------------- k-NN join

KNN_K = 5
KNN_N_PROBES = 5


def llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-``KNN_K`` cosine neighbors for EVERY probe in a
    probe set (vec_id < 5), not just one — the shape dataset-distillation
    and retrieval-augmentation pipelines actually run (N queries × corpus).

    Scale design: the probe set is broadcast (tiny side), scoring is one
    map-side pass over the corpus (corpus never shuffles whole), and top-k
    is TWO-STAGE — a per-(probe, input-partition) partial top-k via
    ``array_sort + slice`` over grouped structs (state ≤ partition rows,
    output ≤ k per group), then a merge of the ≤ k·P partials per probe.
    The full corpus×probes cross product never crosses an exchange; only
    k·P candidate structs per probe do. A single window rank over
    (probe_id) would shuffle all corpus×probes scored rows instead.

    Float discipline: cosines are quant6-floored from bit-identical JVM
    expressions, vec_id tie-break — same contract the hash-green
    ``llm_sim_search`` key uses.
    """
    # poisoned-vector + ragged-dim exclusion (float-specials contract
    # _util.vec_finite; round-12 ragged-dims contract _util.vec_dim_ok)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite()).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    probes = (
        emb.filter(F.col("vec_id") < KNN_N_PROBES)
        .select(F.col("vec_id").alias("pid"), F.col("v").alias("pv"))
    )
    scored = (
        emb.filter(F.col("vec_id") >= KNN_N_PROBES)
        .join(F.broadcast(probes))
        .select(
            "pid",
            "vec_id",
            quant6(cosine_expr("v", "pv")).alias("cosine"),
        )
        # zero-norm vectors score NULL; drop before the partial top-k
        # (a NULL-first struct sort would otherwise rank them best)
        .filter(F.col("cosine").isNotNull())
    )
    from ..operators.simsearch import two_stage_topk

    return two_stage_topk(scored, "pid", KNN_K)


LLM_KNN_JOIN_SQL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
), cand AS (
    SELECT p.vec_id AS pid, c.vec_id,
           floor(({SQL_COSINE.replace('va', 'c.emb').replace('vb', 'p.emb')})
                 * 1000000.0) / 1000000.0 AS cosine
    FROM e c CROSS JOIN e p
    WHERE p.vec_id < {KNN_N_PROBES} AND c.vec_id >= {KNN_N_PROBES}
), ranked AS (
    SELECT pid, vec_id, cosine,
           row_number() OVER (PARTITION BY pid
                              ORDER BY cosine DESC, vec_id) AS rn
    FROM cand WHERE cosine IS NOT NULL
)
SELECT pid, vec_id, cosine FROM ranked WHERE rn <= {KNN_K}
"""


# ------------------------------------------- snapshot-incremental dedup


def llm_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup — the INCREMENTAL shape of corpus dedup: new
    documents (here ``doc_id % 4 == 0``) are checked against the previous
    snapshot (the other 75%) by exact content fingerprint, and only the
    duplicated new docs are reported with their snapshot-match count. At
    100 TB this is a fingerprint equi-join where only the (hash, id)
    projection shuffles — never document text — and the snapshot side is
    a pre-computed fingerprint table maintained by ingest, not recomputed
    (recomputed here because the fixture has no state dir).
    """
    docs = t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", fingerprint("text").alias("fp"))
    new = fp.filter(F.col("doc_id") % 4 == 0)
    snapshot = fp.filter(F.col("doc_id") % 4 != 0).select(
        F.col("fp"), F.col("doc_id").alias("snap_id")
    )
    return (
        new.join(snapshot, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("snapshot_matches"))
    )


LLM_CROSS_DEDUP_SQL = f"""
WITH fp AS (
    SELECT doc_id, {SQL_FINGERPRINT} AS fp FROM documents
)
SELECT n.doc_id, COUNT(*) AS snapshot_matches
FROM (SELECT * FROM fp WHERE doc_id % 4 = 0) n
JOIN (SELECT * FROM fp WHERE doc_id % 4 <> 0) s ON n.fp = s.fp
GROUP BY n.doc_id
"""


# ---------------------------------------------- statistical LM quality


def llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical language-model quality score — the classic
    perplexity-style quality filter of training-data pipelines, kept
    transcendental-free so it hash-matches across engines: score a doc by
    the MEAN CORPUS PROBABILITY of its bigrams (p = corpus_count/total —
    pure integer division into IEEE doubles; `ln()` differs in the last
    ulp between libm implementations, so no logs). Repetitive/templated
    docs score high, rare-garbage docs score low — same ordering signal
    as negative perplexity.

    Scale: bigram counting is one map-side-combinable groupBy; the
    doc-bigram ⋈ corpus-count equi-join shuffles on the gram hash (the
    standard LM-training shuffle; skewed hot grams are exactly what AQE
    skew-join splits). The mean uses the engine's decimal-sum discipline
    (sum order differs between engines; decimal accumulation is exact).
    """
    docs = t(spark, sf_dir, "documents")
    bigrams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array(split(text, ' ')), toks -> "
                "CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(0, size(toks) - 2), "
                "i -> concat_ws(' ', toks[i], toks[i + 1])) "
                "ELSE cast(array() AS array<string>) END)[0]"
            )
        ).alias("gram"),
        # Materialized once: the relation feeds the corpus count AND the
        # score join's probe side — without this the split+explode over
        # the whole corpus executes twice (measured 1.7× end-to-end at
        # sf0.1, same shared-scan pattern as the ngram shingle table).
    ).localCheckpoint(eager=False)
    counts = bigrams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("gram_n")
    )
    # total bigram count derived from the (much smaller) gram counts —
    # Σ gram_n ≡ |bigrams| exactly, saving a third full pass
    total = counts.agg(F.sum("gram_n").alias("total_n"))
    scored = (
        bigrams.join(counts, "gram")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (F.col("gram_n").cast("double") / F.col("total_n")).alias("p"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (
            F.floor(
                F.sum(F.col("p").cast("decimal(28,18)")).cast("double")
                / F.count(F.lit(1))
                * 1000000000.0
            )
            / 1000000000.0
        ).alias("avg_p"),
    )


LLM_BIGRAM_LM_SQL = """
WITH bigrams AS (
    SELECT doc_id, unnest(grams) AS gram
    FROM (
        SELECT doc_id,
               [array_to_string(toks[i:i+1], ' ')
                for i in range(1, len(toks))] AS grams
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 2
    )
), counts AS (
    SELECT gram, COUNT(*) AS gram_n FROM bigrams GROUP BY gram
), total AS (
    SELECT COUNT(*) AS total_n FROM bigrams
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       floor(CAST(SUM(CAST(CAST(c.gram_n AS DOUBLE) / t.total_n
                           AS DECIMAL(28,18))) AS DOUBLE)
             / COUNT(*) * 1000000000.0) / 1000000000.0 AS avg_p
FROM bigrams b JOIN counts c ON b.gram = c.gram CROSS JOIN total t
GROUP BY b.doc_id
"""


def llm_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (~90/5/5) from the id
    hash. Row-level output so the oracle checks every assignment, not
    just the counts. Scale: one map pass; the split column then drives
    partitioned writes downstream (`partitionBy("split")`).

    A hash-threshold op, not ``df.sample``: the eval split must be stable
    across runs, retries and re-ingests so it can be decontaminated against
    exactly (llm_decontaminate)."""
    docs = t(spark, sf_dir, "documents")
    fp = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.select(
        "doc_id",
        F.when(fp < "e6", "train")
        .when(fp < "f3", "val")
        .otherwise("test")
        .alias("split"),
    )


LLM_DATA_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3'
                THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def llm_sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-10 (rows-only: PQ scores are
    lossy by construction — recall vs. brute force is measured in
    tests/test_operators.py). 16 subspaces × 64 centroids compress a
    64-dim float corpus 16:1; asymmetric-distance scoring + exact
    re-ranking of the top 80 candidates measures recall@10 = 1.0 at
    sf0.1 (near-uniform random embeddings are PQ's worst case — the
    coarser 8×16 codebook only reached 0.2 there, so the registry pins
    the measured configuration). Same persisted-index contract as IVF:
    codebooks are trained once per corpus fingerprint and cached."""
    from ..operators.simsearch import pq_topk

    # ragged-dim + poisoned-vector exclusion (round-12 contract,
    # _util.vec_dim_ok; round-11 contract, _util.vec_finite — ADVICE r12:
    # a NaN/Inf vector of modal dim would otherwise reach the np
    # codebook trainer and poison the ADC codebooks, unlike every
    # sibling similarity key which already filters both)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite())
    return pq_topk(
        emb, probe_vec_id=_min_vec_id(emb), k=10,
        m=16, ksub=64, refine=8,
    )


BPE_TOP = 20


def llm_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round over the corpus: frequency of every ADJACENT
    token pair — the counting primitive a tokenizer-training pipeline
    (BPE/WordPiece) iterates at corpus scale. One lateral position
    explode (zero-shuffle, rows × avg_len fan-out like llm_doc_chunk)
    into one partial-aggregated count shuffle of O(vocab²-observed)
    groups; top-k via TakeOrderedAndProject with a total order (count
    desc, pair asc) so the cut is deterministic across engines."""
    # spread: the split + position explode fan-out is per-row compute
    # that would otherwise run on the single row-group's one scan task
    # (guide §2.5).
    docs = spread(t(spark, sf_dir, "documents"), sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pairs = (
        # The size >= 2 guard is load-bearing: Spark's sequence(1, 0)
        # DESCENDS ([1, 0]) for a single-token doc, and element_at(_, 0)
        # errors — whereas DuckDB's range(1, 1) is just empty. Filtering
        # first gives both engines the drop-the-row semantics.
        docs.filter(F.size(toks) >= 2)
        .select(
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(1), F.size(toks) - 1)).alias("i"),
        )
        .select(
            F.concat(
                F.element_at("toks", F.col("i")),
                F.lit(" "),
                F.element_at("toks", F.col("i") + 1),
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(BPE_TOP)
    )


LLM_BPE_PAIRS_SQL = f"""
SELECT tokens[t.i] || ' ' || tokens[t.i + 1] AS pair,
       COUNT(*) AS n
FROM (SELECT string_split(text, ' ') AS tokens FROM documents) d
CROSS JOIN LATERAL unnest(range(1, len(tokens))) AS t(i)
GROUP BY 1
ORDER BY n DESC, pair
LIMIT {BPE_TOP}
"""


def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pass as ONE declarative plan — quality
    gate → exact dedup (canonical = lowest doc_id per fingerprint) →
    language rebalancing → train/val/test split — i.e. the composition a
    real corpus run executes, here as a single Catalyst plan so the
    optimizer sees (and fuses) the whole thing: the quality filter and
    fingerprint computation ride the same scan, the dedup is one
    window over the fingerprint, and the split/rebalance are map-side
    expressions on the survivors. Output: per (lang, split) survivor
    counts plus summed chars — the corpus card a curation run publishes.

    At 100 TB the single-plan shape matters: a step-per-job pipeline
    (filter job → dedup job → split job) re-reads the corpus three
    times; this reads it once."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    quality_ok = (
        F.col("text").isNotNull()
        & (F.size(toks) >= 16)
        & (F.col("n_chars") >= 64)
    )
    fp = F.md5("text")
    w = Window.partitionBy("fp").orderBy("doc_id")
    hash2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    survivors = (
        docs.filter(quality_ok)
        .withColumn("fp", fp)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)  # canonical doc per exact-dup group
        # per-language rebalance: downsample dominant 'en' to ~25%
        .filter(
            F.when(F.col("lang") == "en", hash2 < F.lit("40")).otherwise(
                F.lit(True)
            )
        )
        .withColumn(
            "split",
            F.when(hash2 < F.lit("0d"), "val")
            .when(hash2 < F.lit("1a"), "test")
            .otherwise("train"),
        )
    )
    return survivors.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


LLM_CURATION_PIPELINE_SQL = """
WITH survivors AS (
  SELECT doc_id, lang, n_chars,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM (
      SELECT doc_id, lang, n_chars, md5(text) AS fp
      FROM documents
      WHERE text IS NOT NULL
        AND len(string_split(text, ' ')) >= 16
        AND n_chars >= 64
    )
  )
  WHERE rn = 1
), rebalanced AS (
  SELECT *,
         CASE WHEN h2 < '0d' THEN 'val'
              WHEN h2 < '1a' THEN 'test'
              ELSE 'train' END AS split
  FROM survivors
  WHERE CASE WHEN lang = 'en' THEN h2 < '40' ELSE TRUE END
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM rebalanced
GROUP BY 1, 2
"""


MIX_CAP = 5.0


def llm_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture reweighting: compute the per-language sampling
    weight that moves the token distribution toward uniform across
    languages (the data-mixing step before training — upweight
    under-represented slices, downweight dominant ones), with the
    upsampling factor capped at MIX_CAP so rare slices are not repeated
    into memorization.

    weight_lang = min(cap, target_share / actual_share) where
    actual_share = lang_tokens / total_tokens and target_share = 1/K.
    One aggregation pass over the corpus; every ratio is a division of
    exact integer token counts (whitespace tokens), so the doubles are
    bit-identical across engines and the floor-quantized weights hash-
    match. Output also carries the effective post-weight share, the
    number the mixing loop iterates on."""
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("lang_tokens"),
    )
    totals = per_lang.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count(F.lit(1)).cast("double").alias("k_langs"),
    )
    j = per_lang.crossJoin(F.broadcast(totals))
    actual = F.col("lang_tokens").cast("double") / F.col("total_tokens").cast("double")
    target = F.lit(1.0) / F.col("k_langs")
    weight = F.least(F.lit(MIX_CAP), target / actual)
    eff = actual * weight
    return j.select(
        "lang",
        "n_docs",
        "lang_tokens",
        fquant(weight, 6).alias("mix_weight"),
        fquant(eff, 6).alias("effective_share"),
    )


LLM_MIX_WEIGHTS_SQL = f"""
WITH per_lang AS (
  SELECT lang, COUNT(*) AS n_docs,
         SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS lang_tokens
  FROM documents
  WHERE text IS NOT NULL
  GROUP BY lang
), totals AS (
  SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) AS DOUBLE) AS k_langs
  FROM per_lang
)
SELECT p.lang, p.n_docs, CAST(p.lang_tokens AS BIGINT) AS lang_tokens,
       floor(least({MIX_CAP},
                   (1.0 / t.k_langs)
                   / (CAST(p.lang_tokens AS DOUBLE)
                      / CAST(t.total_tokens AS DOUBLE))) * 1000000.0)
         / 1000000.0 AS mix_weight,
       floor((CAST(p.lang_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE))
             * least({MIX_CAP},
                     (1.0 / t.k_langs)
                     / (CAST(p.lang_tokens AS DOUBLE)
                        / CAST(t.total_tokens AS DOUBLE))) * 1000000.0)
         / 1000000.0 AS effective_share
FROM per_lang p CROSS JOIN totals t
"""


# ------------------------------------------------- llm_winnow_fingerprint

WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 4  # k-grams per winnowing window


def llm_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003):
    hash every K-token shingle, slide a W-wide window over the hash
    sequence, keep each window's minimum — the guaranteed-coverage local
    fingerprint set used for plagiarism/near-dup detection. Output is the
    distinct selected-hash set per document.

    Determinism: selection keeps the min VALUE per window (not a
    tie-position rule), so the selected SET is identical regardless of
    which position a tied minimum occupies. Hashes are md5-prefix strings
    — lexicographic min agrees across engines on ASCII hex. Scale: one
    narrow map pass (explode + window over intra-doc positions, partition
    = doc_id, no cross-doc shuffle beyond the doc_id partitioning)."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("tk")
    ).filter(F.size("tk") >= WINNOW_K)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (WINNOW_K - 1)),
                lambda i: F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.element_at("tk", i),
                            F.element_at("tk", i + 1),
                            F.element_at("tk", i + 2),
                            F.element_at("tk", i + 3),
                        )
                    ),
                    1,
                    12,
                ),
            )
        ).alias("pos", "h"),
    )
    w_cnt = Window.partitionBy("doc_id")
    w_win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    return (
        grams.withColumn("n", F.count(F.lit(1)).over(w_cnt))
        .withColumn("wmin", F.min("h").over(w_win))
        # only full windows: with 0-based pos over n grams, a window
        # starting at pos spans [pos, pos + W - 1] and fits iff
        # pos <= n - W
        .filter(F.col("pos") <= F.col("n") - WINNOW_W)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )


LLM_WINNOW_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= {WINNOW_K}
), g AS (
  SELECT doc_id, i.i AS pos,
         substr(md5(tk[i.i] || ' ' || tk[i.i+1] || ' ' || tk[i.i+2]
                    || ' ' || tk[i.i+3]), 1, 12) AS h,
         len(tk) - {WINNOW_K - 1} AS n
  FROM d CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(tk) - {WINNOW_K - 1})) AS i
  ) i
)
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
FROM g
QUALIFY pos <= n - {WINNOW_W - 1}
"""


HN_K = 5
HN_N_PROBES = 5


def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe
    vector, the top-K most-similar corpus vectors with a DIFFERENT label
    — the "looks similar, is not" pairs a retrieval/embedding trainer
    feeds as negatives.

    Scale shape shared with llm_knn_join: probes broadcast,
    one map-side JVM cosine pass over the corpus with the label-mismatch
    filter applied BEFORE any aggregation, then the two-stage partial
    top-k (operators/simsearch.py::two_stage_topk) so only k·P candidate
    structs per probe cross an exchange. NULL labels (drift sweeps) drop
    out of the mismatch predicate identically in both engines."""
    from ..operators.simsearch import cosine_expr, quant6, two_stage_topk

    # poisoned-vector + ragged-dim exclusion (float-specials contract
    # _util.vec_finite; round-12 ragged-dims contract _util.vec_dim_ok)
    raw = t(spark, sf_dir, "embeddings")
    emb = raw.filter(vec_dim_ok(raw) & vec_finite()).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    probes = emb.filter(F.col("vec_id") < HN_N_PROBES).select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("plabel"),
        F.col("v").alias("pv"),
    )
    scored = (
        emb.filter(F.col("vec_id") >= HN_N_PROBES)
        .join(F.broadcast(probes))
        .filter(F.col("label") != F.col("plabel"))
        .select("pid", "vec_id", quant6(cosine_expr("v", "pv")).alias("cosine"))
        # zero-norm vectors score NULL; drop before the partial top-k
        .filter(F.col("cosine").isNotNull())
    )
    return two_stage_topk(scored, "pid", HN_K)


def _hn_sql() -> str:
    from ..operators.simsearch import SQL_COSINE

    cos = SQL_COSINE.replace("va", "c.emb").replace("vb", "p.emb")
    return f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE (embedding IS NULL OR len(list_filter(embedding, x -> NOT isfinite(CAST(x AS DOUBLE)))) = 0)
      AND {sql_vec_dim_ok()}
), cand AS (
    SELECT p.vec_id AS pid, c.vec_id,
           floor(({cos}) * 1000000.0) / 1000000.0 AS cosine
    FROM e c CROSS JOIN e p
    WHERE p.vec_id < {HN_N_PROBES} AND c.vec_id >= {HN_N_PROBES}
      AND c.label <> p.label
), ranked AS (
    SELECT pid, vec_id, cosine,
           row_number() OVER (PARTITION BY pid
                              ORDER BY cosine DESC, vec_id) AS rn
    FROM cand WHERE cosine IS NOT NULL
)
SELECT pid, vec_id, cosine FROM ranked WHERE rn <= {HN_K}
"""


# ---------------------------------------------------- llm_span_corruption

SPAN_PERIOD = 10  # every 10 tokens...
SPAN_LEN = 3  # ...the last 3 become one masked span


def llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: deterministic spans (the last SPAN_LEN
    tokens of every SPAN_PERIOD-token block) are replaced by one
    <extra_id_N> sentinel in the corrupted text; the targets string
    carries sentinel-prefixed original spans — the (input, target) pair a
    denoising pretrain objective consumes.

    Deterministic by construction (position arithmetic, no RNG — the
    fixture can't move under it). One explode + one grouped re-assembly
    per side, order pinned by token position."""
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    )
    in_span = (F.col("pos") % SPAN_PERIOD) >= (SPAN_PERIOD - SPAN_LEN)
    span_start = (F.col("pos") % SPAN_PERIOD) == (SPAN_PERIOD - SPAN_LEN)
    span_id = F.floor(F.col("pos") / SPAN_PERIOD).cast("int")
    sentinel = F.concat(F.lit("<extra_id_"), span_id, F.lit(">"))
    corrupted_tok = F.when(span_start, sentinel).when(
        in_span, F.lit(None)
    ).otherwise(F.col("tok"))
    target_tok = F.when(
        span_start, F.concat(sentinel, F.lit(" "), F.col("tok"))
    ).when(in_span, F.col("tok"))
    parts = toks.select(
        "doc_id",
        "pos",
        corrupted_tok.alias("ctok"),
        target_tok.alias("ttok"),
    )
    assemble = lambda col: F.array_join(  # noqa: E731
        F.expr(
            f"transform(array_sort(collect_list(struct(pos, {col}))),"
            f" s -> s.{col})"
        ),
        " ",
    )
    return parts.groupBy("doc_id").agg(
        assemble("ctok").alias("corrupted"),
        assemble("ttok").alias("targets"),
    )


LLM_SPAN_CORRUPTION_SQL = f"""
WITH toks AS (
  SELECT doc_id, i.i - 1 AS pos, tk[i.i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents WHERE text IS NOT NULL) d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) i
), parts AS (
  SELECT doc_id, pos,
         CASE WHEN pos % {SPAN_PERIOD} = {SPAN_PERIOD - SPAN_LEN}
              THEN '<extra_id_' || CAST(pos // {SPAN_PERIOD} AS INT) || '>'
              WHEN pos % {SPAN_PERIOD} >= {SPAN_PERIOD - SPAN_LEN}
              THEN NULL
              ELSE tok END AS ctok,
         CASE WHEN pos % {SPAN_PERIOD} = {SPAN_PERIOD - SPAN_LEN}
              THEN '<extra_id_' || CAST(pos // {SPAN_PERIOD} AS INT) || '> '
                   || tok
              WHEN pos % {SPAN_PERIOD} >= {SPAN_PERIOD - SPAN_LEN}
              THEN tok END AS ttok
  FROM toks
)
SELECT doc_id,
       COALESCE(string_agg(ctok, ' ' ORDER BY pos), '') AS corrupted,
       COALESCE(string_agg(ttok, ' ' ORDER BY pos), '') AS targets
FROM parts
GROUP BY doc_id
"""


# -------------------------------------------------------- llm_bpe_train

BPE_ITERS = 3


def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training, 3 exact iterations: count adjacent
    token pairs, pick the most frequent (deterministic (count DESC, a, b)
    tie-break), apply leftmost-greedy non-overlapping merges, repeat —
    the tokenizer-training loop, run on the cluster instead of a single
    machine (the same exact-iteration recipe as ml_kmeans: the oracle
    unrolls identical iterations as SQL CTEs).

    Leftmost-greedy marking is window-parallel, not sequential: overlaps
    are only possible when a == b (runs of the same symbol), and within a
    run of consecutive pair-hits the merges land at even offsets — so
    islands of consecutive hits + an even-offset test reproduce the
    sequential scan exactly. Per iteration: one doc-partition window
    pass, one (a,b) count shuffle, one bounded O(1) driver collect (the
    argmax pair — same justification as the IVF training sample), and a
    localCheckpoint to truncate lineage. Output: per-iteration learned
    pair, its (overlap-counted) frequency, applied merge count, and
    corpus tokens remaining."""
    rows, _seq = _bpe_run(spark, sf_dir)
    return spark.createDataFrame(
        rows,
        "it int, pair_a string, pair_b string, pair_count long,"
        " merges long, tokens_after long",
    )


def _bpe_run(spark: SparkSession, sf_dir: str):
    """Shared BPE merge engine: BPE_ITERS exact iterations, returning
    (per-iteration stats rows, final encoded sequence DF). llm_bpe_train
    reports the former; llm_bpe_encode aggregates the latter — train and
    apply share one implementation, so the learned merges and the encoded
    corpus can never drift apart.

    Memoized per session and documents content: without it each of the
    two keys re-runs the full train, and encode reuses train's
    sequence, whose localCheckpoints truncate lineage after the first
    action so replays are cheap. The session's applicationId is in the
    key so a restarted session never sees another JVM's checkpoints."""
    key = (
        "bpe", spark.sparkContext.applicationId,
        memo.fingerprint(catalog.table_path(sf_dir, "documents")), BPE_ITERS,
    )
    return memo.cached(key, lambda: _bpe_train(spark, sf_dir))


def _bpe_train(spark: SparkSession, sf_dir: str):
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    seq = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).localCheckpoint(eager=False)

    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    w_run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rows = []
    # each applied merge removes exactly one token, so the per-iteration
    # corpus size is prev - merges — no count() action on the rebuilt
    # sequence needed (the oracle still COUNTs its rebuilt CTE, so a
    # rebuild defect would still hash-mismatch)
    n_tokens = seq.count()
    for it in range(1, BPE_ITERS + 1):
        paired = seq.withColumn("nxt", F.lead("tok").over(w_doc))
        top = (
            paired.filter(F.col("nxt").isNotNull())
            .groupBy("tok", "nxt")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "tok", "nxt")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["tok"], top[0]["nxt"], top[0]["c"]
        ip = (F.col("tok") == F.lit(a)) & (F.col("nxt") == F.lit(b))
        marked = (
            paired.withColumn("ip", ip)
            .withColumn(
                "grp",
                F.col("pos")
                - F.sum(F.col("ip").cast("int")).over(w_run),
            )
        )
        w_isl = Window.partitionBy("doc_id", "grp").orderBy("pos").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        marked = marked.withColumn(
            "ms",
            F.col("ip")
            & (((F.sum(F.col("ip").cast("int")).over(w_isl)) - 1) % 2 == 0),
        ).localCheckpoint(eager=False)
        n_merges = marked.agg(
            F.sum(F.col("ms").cast("long")).alias("m")
        ).collect()[0]["m"] or 0
        rebuilt = (
            marked.withColumn(
                "pm", F.lag("ms").over(w_doc)
            )
            .filter(~F.coalesce(F.col("pm"), F.lit(False)))
            .select(
                "doc_id",
                (F.row_number().over(w_doc) - 1).alias("pos"),
                F.when(
                    F.col("ms"), F.concat("tok", F.lit(" "), "nxt")
                ).otherwise(F.col("tok")).alias("tok"),
            )
            .localCheckpoint(eager=False)
        )
        n_tokens -= int(n_merges)
        rows.append((it, a, b, int(c), int(n_merges), int(n_tokens)))
        seq = rebuilt
    return rows, seq


def _bpe_iter_sql(i: int) -> str:
    """One unrolled BPE iteration over sequence CTE s{i-1} → s{i}:
    pair counts → deterministic argmax → island/even-offset greedy
    marking → rebuild. Mirrors llm_bpe_train's loop body exactly."""
    p = i - 1
    return f"""
w{i} AS MATERIALIZED (
  SELECT doc_id, pos, tok,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM s{p}
), t{i} AS MATERIALIZED (
  SELECT tok AS a, nxt AS b, COUNT(*) AS c
  FROM w{i} WHERE nxt IS NOT NULL
  GROUP BY tok, nxt
  ORDER BY c DESC, a, b
  LIMIT 1
), m{i} AS (
  SELECT w.doc_id, w.pos, w.tok, w.nxt, t.a, t.b, t.c,
         (w.tok = t.a AND w.nxt = t.b) AS ip
  FROM w{i} w CROSS JOIN t{i} t
), g{i} AS (
  SELECT *,
         pos - SUM(CASE WHEN ip THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS grp
  FROM m{i}
), k{i} AS MATERIALIZED (
  SELECT *,
         ip AND ((SUM(CASE WHEN ip THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id, grp ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) - 1) % 2 = 0) AS ms
  FROM g{i}
), l{i} AS (
  SELECT *, lag(ms) OVER (PARTITION BY doc_id ORDER BY pos) AS pm
  FROM k{i}
), s{i} AS MATERIALIZED (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
         CASE WHEN ms THEN tok || ' ' || nxt ELSE tok END AS tok
  FROM l{i} WHERE NOT COALESCE(pm, FALSE)
  -- degenerate-corpus fallback: an empty pair vocabulary (t{i} has no
  -- row) empties the rebuild chain via the CROSS JOIN, but the Spark
  -- loop BREAKs and keeps the previous sequence — carry s{p} forward
  UNION ALL
  SELECT doc_id, pos, tok FROM s{p}
  WHERE NOT EXISTS (SELECT 1 FROM t{i})
), r{i} AS (
  SELECT {i} AS it,
         (SELECT a FROM t{i}) AS pair_a,
         (SELECT b FROM t{i}) AS pair_b,
         (SELECT CAST(c AS BIGINT) FROM t{i}) AS pair_count,
         (SELECT CAST(COUNT(CASE WHEN ms THEN 1 END) AS BIGINT)
          FROM k{i}) AS merges,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM s{i}) AS tokens_after
)"""


LLM_BPE_TRAIN_SQL = (
    """
WITH s0 AS (
  SELECT doc_id, i.i - 1 AS pos, tk[i.i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents WHERE text IS NOT NULL) d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) i
)"""
    + "".join("," + _bpe_iter_sql(i) for i in range(1, BPE_ITERS + 1))
    # pair_a IS NULL marks an iteration whose pair vocabulary was empty
    # (t{i} returned no row) — the Spark loop BREAKs there, so the
    # oracle must drop those rows too or a degenerate corpus (all docs
    # single-token) emits 3 oracle rows vs Spark's fewer
    + """
SELECT * FROM r1 WHERE pair_a IS NOT NULL
UNION ALL SELECT * FROM r2 WHERE pair_a IS NOT NULL
UNION ALL SELECT * FROM r3 WHERE pair_a IS NOT NULL
"""
)


def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the other half of the BPE story: encode
    the corpus with the learned merges and report, per document, the
    final token count, how many tokens are merge products, and an
    order-sensitive md5 of the encoded sequence (so a mis-ordered or
    mis-merged rebuild cannot hash-match even with correct counts).

    Shares the merge engine with llm_bpe_train (_bpe_run) — in a real
    pipeline train and apply MUST agree on leftmost-greedy semantics,
    and sharing the implementation makes divergence impossible. The
    oracle replays the identical unrolled iterations (the train
    oracle's CTE chain) and aggregates its final sequence.

    Scale: the encode output is one groupBy over the final sequence —
    O(tokens) rows into a per-doc aggregate, all JVM."""
    _rows, seq = _bpe_run(spark, sf_dir)
    return seq.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("tok").contains(" ").cast("long")).alias("n_merged"),
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("seq_md5"),
    )


LLM_BPE_ENCODE_SQL = (
    """
WITH s0 AS (
  SELECT doc_id, i.i - 1 AS pos, tk[i.i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents WHERE text IS NOT NULL) d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) i
)"""
    + "".join("," + _bpe_iter_sql(i) for i in range(1, BPE_ITERS + 1))
    + f"""
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(CASE WHEN contains(tok, ' ') THEN 1 END) AS BIGINT)
         AS n_merged,
       md5(string_agg(tok, '|' ORDER BY pos)) AS seq_md5
FROM s{BPE_ITERS}
GROUP BY doc_id
"""
)


# ------------------------------------------------- llm_paragraph_dedup

PARA_W = 8          # tokens per segment ("paragraph" granularity)
PARA_MIN_DOCS = 2   # segment is boilerplate if it appears in >= this many docs


def llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal — the C4/CCNet preprocessing
    step: segment every document (non-overlapping PARA_W-token windows),
    find segments whose hash occurs in ≥ PARA_MIN_DOCS distinct docs,
    strip ALL their occurrences, and reassemble each document in original
    segment order. Complements the doc-level dedup family: it removes
    repeated headers/footers/navigation INSIDE otherwise-unique docs.

    Scale shape: one explode to O(tokens/W) segment rows, one partial-agg
    groupBy on the 128-bit segment hash (map-side combinable), an
    anti-join of segments against the boilerplate hash list (AQE picks
    broadcast while the list is small; at 100 TB the list grows with true
    boilerplate volume and falls back to a shuffle join on the hash —
    both sides already partition by it), and one per-doc reassembly
    shuffle. Text bytes cross the shuffle once (segment rows); the
    boilerplate decision itself moves only hashes.
    """
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.ceil(F.size(toks) / F.lit(float(PARA_W))).cast("bigint")
        .alias("n_segs"),
    )
    # Materialized ONCE: the segment relation feeds the boilerplate
    # groupBy (build side), the anti-join probe side, AND the per-doc
    # totals — without the checkpoint the corpus split+explode executes
    # three times (the shared-scan discipline measured on the ngram
    # shingle table and llm_bigram_lm).
    segs = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_segs").cast("int") - 1)
        ).alias("seg_no"),
        "toks",
    ).select(
        "doc_id",
        "seg_no",
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("seg_no") * PARA_W + 1, PARA_W)
        ).alias("seg"),
    ).withColumn("h", F.md5("seg")).localCheckpoint(eager=False)
    # per-doc totals derived from segs (every non-null-text doc has >= 1
    # segment), so the documents table is scanned exactly once
    totals = segs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs")
    )
    boiler = (
        segs.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= PARA_MIN_DOCS)
        .select("h")
    )
    kept = segs.join(boiler, "h", "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_no", "seg"))),
                lambda s: s["seg"],
            ),
        ).alias("clean_text"),
    )
    return (
        totals.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (F.col("n_segs") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .alias("n_dropped"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


LLM_PARAGRAPH_DEDUP_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(ceil(len(string_split(text, ' ')) / {PARA_W}.0) AS BIGINT)
           AS n_segs
  FROM documents WHERE text IS NOT NULL
), segs AS MATERIALIZED (
  SELECT doc_id, i AS seg_no,
         array_to_string(
           list_slice(toks, i * {PARA_W} + 1, i * {PARA_W} + {PARA_W}), ' '
         ) AS seg
  FROM base, UNNEST(range(n_segs)) u(i)
), rep AS (
  SELECT md5(seg) AS h FROM segs
  GROUP BY md5(seg)
  HAVING COUNT(DISTINCT doc_id) >= {PARA_MIN_DOCS}
), kept AS (
  SELECT * FROM segs WHERE md5(seg) NOT IN (SELECT h FROM rep)
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY seg_no) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n_segs,
       COALESCE(a.n_kept, 0) AS n_kept,
       b.n_segs - COALESCE(a.n_kept, 0) AS n_dropped,
       COALESCE(a.clean_text, '') AS clean_text
FROM base b LEFT JOIN agg a USING (doc_id)
"""


# ------------------------------------------------------ llm_dedup_apply


def llm_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply near-dup clustering to the corpus: keep ONE canonical
    document per connected dup component — the longest (max ``n_chars``,
    doc_id tie-break), the usual keep-the-most-complete-copy policy —
    and report what the dedup removed. Builds on the exact cluster
    assignment ``llm_dedup_cluster`` produces (same pair threshold,
    same component closure), so detect and apply cannot disagree.

    Scale: the survivor pick is one row_number window over the cluster
    assignment (shuffle on cluster_id, O(docs) rows) on top of the
    cluster plan's blocked pair join — no new corpus scan; the join back
    to ``documents`` for n_chars is doc_id-keyed and column-pruned to
    two columns.

    Closes the dedup story end-to-end: every detection backend in the family
    emits pairs or clusters, but a training-data pipeline ultimately needs
    the SURVIVING corpus — one canonical document per duplicate group,
    everything else dropped."""

    comp = llm_dedup_cluster(spark, sf_dir)  # doc_id, cluster_id, cluster_size
    sizes = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        comp.join(sizes, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("cluster_size") - 1).cast("long").alias("n_removed"),
        )
    )


LLM_DEDUP_APPLY_SQL = f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES}, pairs AS (
    SELECT doc_a, doc_b FROM scored_pairs WHERE jaccard >= 0.8
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
), sized AS (
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
), ranked AS (
    SELECT s.doc_id, s.cluster_id, s.cluster_size,
           ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                              ORDER BY d.n_chars DESC, s.doc_id) AS rk
    FROM sized s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT doc_id, cluster_id, cluster_size,
       CAST(cluster_size - 1 AS BIGINT) AS n_removed
FROM ranked WHERE rk = 1
"""


# ---------------------------------------------------- llm_ngram_novelty


def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document novelty score: the fraction of a document's distinct
    word trigrams that occur in NO other document (corpus df = 1).
    Low novelty = templated/boilerplate content — the cheap corpus-level
    signal pipelines threshold on before running pair-level dedup at
    all (a doc that is 90 % shared shingles is a dedup candidate; one
    that is 95 % unique is not worth pairing). Ratio floor-quantized to
    4 decimals (integer division into IEEE doubles — deterministic
    cross-engine, same discipline as the Jaccard scores).

    Scale: the df table is one map-side-combinable groupBy over the
    shingle explode; the score join shuffles on the gram hash — the
    identical shape (and skew profile) as the TF-IDF key, linear in
    corpus shingles. Short docs (< 3 tokens) have no shingles and are
    absent from the output in both engines."""
    from ..operators.text import trigrams

    docs = t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(trigrams("text")).alias("gram")
    ).localCheckpoint(eager=False)  # feeds df counts AND the score join
    df_counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
            (
                F.floor(
                    F.sum((F.col("df") == 1).cast("long"))
                    * F.lit(10000.0)
                    / F.count(F.lit(1))
                )
                / 10000.0
            ).alias("novelty"),
        )
    )


LLM_NGRAM_NOVELTY_SQL = """
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
    SELECT doc_id,
           list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          for i in range(1, len(toks) - 1)]) AS grams
    FROM d WHERE len(toks) >= 3
), ex AS (
    SELECT doc_id, unnest(grams) AS gram FROM g
), dfc AS (
    SELECT gram, COUNT(*) AS df FROM ex GROUP BY gram
)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(CASE WHEN dfc.df = 1 THEN 1 END) AS BIGINT) AS n_unique,
       floor(COUNT(CASE WHEN dfc.df = 1 THEN 1 END) * 10000.0
             / COUNT(*)) / 10000.0 AS novelty
FROM ex e JOIN dfc USING (gram)
GROUP BY e.doc_id
"""


# ------------------------------------------------------ llm_prefix_dedup

#: Blocking key width (chars) and hot-block cap. Docs shorter than the
#: key are not prefix-dedup candidates by contract (tiny docs are the
#: quality gate's job); blocks shared by more docs than the cap are
#: boilerplate openings and dropped before the pair join — the same
#: frequency-stop discipline as the ngram family's stop-shingle cap.
PREFIX_KEY_CHARS = 32
PREFIX_MAX_BLOCK_DF = 50


def llm_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation duplicates — the crawl-pipeline dup class the
    shingle-Jaccard family underweights: a re-crawl or extraction bug
    that TRUNCATES a page yields doc A = strict prefix of doc B, whose
    Jaccard can sit far below any near-dup threshold when B is much
    longer. Detection: block on the first ``PREFIX_KEY_CHARS``
    characters (equal-prefix pairs necessarily share the block), drop
    hot blocks (common openings) by the frequency cap, then verify
    ``substr(b, 1, len(a)) = a`` with ``len(a) < len(b)`` inside each
    block. Exact duplicates are excluded (that is ``llm_fingerprint``'s
    contract — this key reports strict truncations only).

    Scale: one block groupBy (map-side combinable) for the cap, one
    equi-join on the 32-char block key with fan-out bounded by cap² per
    block, and the verify is an O(len) substring compare on candidate
    pairs only — never an all-pairs scan."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(
            F.col("text").isNotNull()
            & (F.length("text") >= PREFIX_KEY_CHARS)
        )
        .select(
            "doc_id", "text",
            F.length("text").alias("n"),
            F.substring("text", 1, PREFIX_KEY_CHARS).alias("block"),
        )
    )
    cold = (
        docs.groupBy("block")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= PREFIX_MAX_BLOCK_DF)
        .select("block")
    )
    kb = docs.join(F.broadcast(cold), "block")
    a = kb.select(
        F.col("block"), F.col("doc_id").alias("doc_a"),
        F.col("text").alias("ta"), F.col("n").alias("prefix_len"),
    )
    b = kb.select(
        F.col("block"), F.col("doc_id").alias("doc_b"),
        F.col("text").alias("tb"), F.col("n").alias("full_len"),
    )
    return (
        a.join(b, "block")
        .filter(
            (F.col("prefix_len") < F.col("full_len"))
            # substring with a column-valued length needs the expr form
            & (F.expr("substring(tb, 1, prefix_len)") == F.col("ta"))
        )
        .select(
            "doc_a", "doc_b",
            F.col("prefix_len").cast("long").alias("prefix_len"),
            F.col("full_len").cast("long").alias("full_len"),
        )
    )


LLM_PREFIX_DEDUP_SQL = f"""
WITH d AS (
    SELECT doc_id, text, length(text) AS n
    FROM documents
    WHERE text IS NOT NULL AND length(text) >= {PREFIX_KEY_CHARS}
), blk AS (
    SELECT doc_id, text, n,
           substr(text, 1, {PREFIX_KEY_CHARS}) AS block
    FROM d
), cold AS (
    SELECT block FROM blk GROUP BY block
    HAVING COUNT(*) <= {PREFIX_MAX_BLOCK_DF}
), kb AS (
    SELECT blk.* FROM blk JOIN cold USING (block)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(a.n AS BIGINT) AS prefix_len,
       CAST(b.n AS BIGINT) AS full_len
FROM kb a JOIN kb b ON a.block = b.block AND a.n < b.n
WHERE substr(b.text, 1, CAST(a.n AS INT)) = a.text
"""


# ---------------------------------------------------------- mm_scene_cut


def mm_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-shaped scene-change detection over binary payloads:
    consecutive 64-byte frames compared by summed per-byte absolute
    delta, cut flagged above a fixed threshold (operators/multimodal.py
    ::scene_cut — Arrow-batched mapInPandas, integer sufficient
    statistics so the oracle recomputes the deltas exactly from the
    payload bytes via hex-nibble decode, the mm_audio_window
    discipline). A real build swaps the u8 delta for a decoded-frame
    perceptual metric through the same batch flow."""
    from ..operators import multimodal

    docs = t(spark, sf_dir, "documents")
    return multimodal.scene_cut(multimodal.synthesize_payloads(docs))


MM_SCENE_CUT_SQL = """
WITH h AS (
    SELECT doc_id, hex(encode(text)) AS hx,
           CAST(octet_length(encode(text)) // 64 AS INT) AS n_frames
    FROM documents WHERE text IS NOT NULL
), d AS (
    SELECT doc_id, CAST(u.j // 64 AS INT) AS frame_no,
           abs(
             (strpos('0123456789ABCDEF',
                     substr(hx, CAST(u.j * 2 + 1 AS INT), 1)) - 1) * 16
             + strpos('0123456789ABCDEF',
                      substr(hx, CAST(u.j * 2 + 2 AS INT), 1)) - 1
             - ((strpos('0123456789ABCDEF',
                        substr(hx, CAST((u.j + 64) * 2 + 1 AS INT), 1)) - 1)
                * 16
                + strpos('0123456789ABCDEF',
                         substr(hx, CAST((u.j + 64) * 2 + 2 AS INT), 1)) - 1)
           ) AS delta
    FROM h, UNNEST(range((n_frames - 1) * 64)) u(j)
    WHERE n_frames >= 2
)
SELECT doc_id, frame_no,
       CAST(SUM(delta) AS BIGINT) AS diff_sum,
       SUM(delta) > 640 AS is_cut
FROM d
GROUP BY doc_id, frame_no
"""


# ------------------------------------------------------- llm_collocations

#: word2vec phrase-score discount: pairs seen fewer than ~delta times
#: score negative and drop out (kills rare-pair noise).
COLLOC_DELTA = 5
#: Support floor on the pair count itself.
COLLOC_MIN_PAIR = 5
#: Keep positively-associated pairs only (score > 1 ~ "co-occur more
#: than independence predicts, even after the discount").
COLLOC_MIN_SCORE = 1.0


def llm_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style collocation (phrase) mining (Mikolov et al. 2013
    §4): score each adjacent token pair by discounted lift
    ``(c_ab - delta) * N / (c_a * c_b)`` and keep supported,
    positively-associated pairs — the standard pre-tokenization pass
    that promotes "machine learning" to one vocabulary unit. The score
    is PMI's ratio without the log (libm ``ln`` drifts in the last ulp
    across engines; the ratio of exact integer counts, multiplied then
    divided as doubles, is correctly-rounded and bit-identical — same
    transcendental-free stance as ``llm_bigram_lm``).

    Scale: ONE tokenization pass materializes the per-doc token arrays;
    unigram and bigram counts are two map-side-combinable groupBys over
    explodes of that relation; the scoring joins shuffle pair counts
    against vocab-sized unigram counts (gram-hash shuffle, AQE
    skew-splittable) and the totals ride in as 1-row broadcasts."""
    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    arrs = docs.select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda x: x != "").alias(
            "toks"
        ),
    ).localCheckpoint(eager=False)
    uni = (
        arrs.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_term"))
    )
    n_tok = uni.agg(F.sum("c_term").alias("n_tokens"))
    # bigram key is the "a b" string (tokens are space-split, so they
    # contain no spaces — the join key decodes uniquely); counting grams
    # then splitting ONLY the surviving pairs keeps the heavy groupBy on
    # one flat string column
    pairs = (
        arrs.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) >= 2 THEN "
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> concat_ws(' ', toks[i], toks[i + 1])) "
                    "ELSE cast(array() AS array<string>) END"
                )
            ).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= COLLOC_MIN_PAIR)
        .select(
            F.split(F.col("gram"), " ").getItem(0).alias("a"),
            F.split(F.col("gram"), " ").getItem(1).alias("b"),
            "c_ab",
        )
    )
    ua = uni.select(F.col("term").alias("a"), F.col("c_term").alias("c_a"))
    ub = uni.select(F.col("term").alias("b"), F.col("c_term").alias("c_b"))
    score = (
        (F.col("c_ab").cast("double") - F.lit(float(COLLOC_DELTA)))
        * F.col("n_tokens").cast("double")
        / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
    )
    return (
        pairs.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n_tok))
        .select(
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            F.col("c_ab").cast("long").alias("pair_count"),
            F.col("c_a").cast("long").alias("count_a"),
            F.col("c_b").cast("long").alias("count_b"),
            fquant(score, 6).alias("phrase_score"),
        )
        .filter(F.col("phrase_score") > COLLOC_MIN_SCORE)
    )


LLM_COLLOCATIONS_SQL = f"""
WITH arrs AS MATERIALIZED (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents WHERE text IS NOT NULL
), uni AS MATERIALIZED (
    SELECT unnest(toks) AS term FROM arrs
), uc AS MATERIALIZED (
    SELECT term, COUNT(*) AS c_term FROM uni GROUP BY term
), nt AS (SELECT SUM(c_term) AS n_tokens FROM uc),
bi AS (
    SELECT unnest([toks[i] || ' ' || toks[i + 1]
                   for i in range(1, len(toks))]) AS gram
    FROM arrs WHERE len(toks) >= 2
), pg AS (
    SELECT gram, COUNT(*) AS c_ab FROM bi GROUP BY gram
    HAVING COUNT(*) >= {COLLOC_MIN_PAIR}
), pc AS (
    SELECT string_split(gram, ' ')[1] AS a, string_split(gram, ' ')[2] AS b,
           c_ab
    FROM pg
)
SELECT pc.a AS term_a, pc.b AS term_b,
       CAST(pc.c_ab AS BIGINT) AS pair_count,
       CAST(ua.c_term AS BIGINT) AS count_a,
       CAST(ub.c_term AS BIGINT) AS count_b,
       floor((CAST(pc.c_ab AS DOUBLE) - {float(COLLOC_DELTA)})
             * CAST(nt.n_tokens AS DOUBLE)
             / (CAST(ua.c_term AS DOUBLE) * CAST(ub.c_term AS DOUBLE))
             * 1000000.0) / 1000000.0 AS phrase_score
FROM pc
JOIN uc ua ON pc.a = ua.term
JOIN uc ub ON pc.b = ub.term
CROSS JOIN nt
WHERE floor((CAST(pc.c_ab AS DOUBLE) - {float(COLLOC_DELTA)})
            * CAST(nt.n_tokens AS DOUBLE)
            / (CAST(ua.c_term AS DOUBLE) * CAST(ub.c_term AS DOUBLE))
            * 1000000.0) / 1000000.0 > {COLLOC_MIN_SCORE}
"""


# --------------------------------------------------------- llm_vocab_growth

#: Vocabulary checkpoints every this many documents (doc_id order).
VOCAB_BUCKET = 50


def llm_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve over word-TRIGRAM shingles:
    reading the corpus in doc_id order, how many distinct shingles have
    appeared by each ``VOCAB_BUCKET``-document checkpoint, and how many
    are new in that bucket. A flattening curve says the source has
    stopped contributing novelty — the saturation signal data-mixing
    weights (llm_mix_weights) act on. Shingles, not unigrams, are the
    unit: a natural corpus' unigram vocabulary saturates almost
    immediately (the fixture's ~50-word lexicon is the degenerate
    case), while the shingle space keeps growing for as long as the
    corpus genuinely adds novelty — the same unit llm_ngram_novelty
    scores documents by.

    Scale: shingles shuffle ONCE, as a map-side-combinable
    groupBy(gram) → MIN(doc_id) (first-occurrence relation is
    vocabulary-sized, not corpus-sized); the checkpoint histogram and
    the running total are a groupBy + window over the BUCKET relation
    (#docs / VOCAB_BUCKET rows). No explode output ever crosses a
    second shuffle."""
    from ..operators.text import trigrams

    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", F.explode(trigrams("text")).alias("tok")
    )
    first = toks.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    per = first.groupBy(
        (F.floor(F.col("fd") / VOCAB_BUCKET) * VOCAB_BUCKET)
        .cast("long")
        .alias("doc_bucket")
    ).agg(F.count(F.lit(1)).alias("new_tokens"))
    w = Window.orderBy("doc_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "doc_bucket",
        F.col("new_tokens").cast("long").alias("new_tokens"),
        F.sum("new_tokens").over(w).cast("long").alias("vocab_size"),
    )


LLM_VOCAB_GROWTH_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents WHERE text IS NOT NULL
), tok AS (
    SELECT doc_id,
           unnest(list_distinct(
               [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                for i in range(1, len(toks) - 1)])) AS tok
    FROM d WHERE len(toks) >= 3
), first AS (
    SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY tok
), per AS (
    SELECT CAST(floor(fd / {VOCAB_BUCKET}) * {VOCAB_BUCKET} AS BIGINT)
             AS doc_bucket,
           COUNT(*) AS new_tokens
    FROM first GROUP BY 1
)
SELECT doc_bucket,
       CAST(new_tokens AS BIGINT) AS new_tokens,
       CAST(SUM(new_tokens) OVER (ORDER BY doc_bucket ROWS BETWEEN
            UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
FROM per
"""


# ---------------------------------------------------------------- mm_phash

PHASH_WIDTH = 64


def mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash signatures over the multimodal payloads
    plus exact-duplicate grouping: each payload's first 64 body bytes
    are thresholded against their integer mean into a 64-bit aHash
    (operators/multimodal.py::phash64 — a real build decodes, resizes
    to 8×8 luma and thresholds through the same Arrow batch flow), and
    every signature carries its corpus-wide collision count — identical
    hashes are the image-dedup candidates, the visual sibling of
    llm_fingerprint's md5 grouping.

    Scale: mapInPandas is one Arrow pass, O(width) per payload; the
    collision count is a window over the signature column (one
    map-side-combinable shuffle on a 64-bit key). The oracle replays
    the hash bit-for-bit from hex nibbles — integer compares only.

    Completes the multimodal family's dedup story: average-hash signatures
    whose byte-domain stub is exactly replayable by the hex-nibble oracle
    (the mm_audio_window discipline)."""
    from ..operators import multimodal

    docs = t(spark, sf_dir, "documents")
    sigs = multimodal.phash64(
        multimodal.synthesize_payloads(docs), width=PHASH_WIDTH
    )
    w = Window.partitionBy("phash")
    return sigs.select(
        "doc_id",
        "n_bytes",
        "mean_b",
        "phash",
        F.count(F.lit(1)).over(w).cast("long").alias("n_same_hash"),
    )


MM_PHASH_SQL = f"""
WITH h AS (
    SELECT doc_id, hex(encode(text)) AS hx,
           least(octet_length(encode(text)), {PHASH_WIDTH}) AS nb
    FROM documents WHERE text IS NOT NULL
), b AS (
    SELECT doc_id, nb, CAST(i AS INT) AS i,
           (strpos('0123456789ABCDEF',
                   substr(hx, CAST(i * 2 + 1 AS INT), 1)) - 1) * 16
           + strpos('0123456789ABCDEF',
                    substr(hx, CAST(i * 2 + 2 AS INT), 1)) - 1 AS v
    FROM h, UNNEST(range(nb)) u(i)
), m AS (
    SELECT doc_id, nb, CAST(SUM(v) AS BIGINT) // nb AS mean_b
    FROM b GROUP BY doc_id, nb
), sig AS (
    SELECT b.doc_id, m.nb, m.mean_b,
           SUM(CASE WHEN b.v > m.mean_b
                    THEN CAST(1 AS HUGEINT) << b.i
                    ELSE CAST(0 AS HUGEINT) END) AS s
    FROM b JOIN m USING (doc_id)
    GROUP BY b.doc_id, m.nb, m.mean_b
), wrapped AS (
    SELECT doc_id, CAST(nb AS INT) AS n_bytes,
           CAST(mean_b AS INT) AS mean_b,
           CAST(CASE WHEN s >= CAST(1 AS HUGEINT) << 63
                     THEN s - (CAST(1 AS HUGEINT) << 64)
                     ELSE s END AS BIGINT) AS phash
    FROM sig
    UNION ALL
    -- empty-body payloads (text encodes to 0 bytes): the engine emits
    -- an all-zero row; the byte explode above yields nothing for them
    SELECT doc_id, 0, 0, CAST(0 AS BIGINT) FROM h WHERE nb = 0
)
SELECT doc_id, n_bytes, mean_b, phash,
       CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same_hash
FROM wrapped
"""


QUERIES: dict[str, Query] = {
    "llm_text_stats": Query(llm_text_stats, LLM_TEXT_STATS_SQL,
                            "top terms per lang"),
    "llm_lang_filter": Query(llm_lang_filter, LLM_LANG_FILTER_SQL,
                             "corpus language/quality gate"),
    "llm_lang_id": Query(llm_lang_id, LLM_LANG_ID_SQL,
                         "marker-based language ID"),
    "llm_quality_score": Query(llm_quality_score, LLM_QUALITY_SQL,
                               "heuristic quality scoring"),
    "llm_token_count": Query(llm_token_count, LLM_TOKEN_COUNT_SQL,
                             "token counting"),
    "llm_fingerprint": Query(llm_fingerprint, LLM_FINGERPRINT_SQL,
                             "md5 fingerprint dedup key"),
    "llm_dedup_ngram": Query(llm_dedup_ngram, LLM_DEDUP_NGRAM_SQL,
                             "exact trigram-Jaccard pairs", eager="compute"),
    "llm_dedup_cluster": Query(llm_dedup_cluster, LLM_DEDUP_CLUSTER_SQL,
                               "near-dup connected components",
                               eager="compute"),
    "llm_tfidf": Query(llm_tfidf, LLM_TFIDF_SQL,
                       "top TF-IDF term per document", eager="compute"),
    "llm_dedup_editdist": Query(
        llm_dedup_editdist, LLM_DEDUP_EDITDIST_SQL,
        "edit-distance dedup: ngram blocking + Levenshtein verify",
        eager="compute",
    ),
    "llm_dedup_minhash": Query(llm_dedup_minhash, None,
                               "MinHash-LSH pairs (rows-only)",
                               eager="compute"),
    "llm_dedup_simhash": Query(
        llm_dedup_simhash, LLM_DEDUP_SIMHASH_SQL,
        "SimHash band pairs, hash-checked via full oracle-side replay",
    ),
    "llm_dedup_embedding": Query(llm_dedup_embedding, LLM_DEDUP_EMBEDDING_SQL,
                                 "embedding-cosine near-dups",
                                 eager="compute"),
    "llm_sim_search": Query(llm_sim_search, LLM_SIM_SEARCH_SQL,
                            "brute-force cosine top-k", eager="compute"),
    "llm_sim_search_ivf": Query(llm_sim_search_ivf, None,
                                "IVF approximate top-k (rows-only)",
                                eager="compute"),
    "llm_decontaminate": Query(llm_decontaminate, LLM_DECONTAMINATE_SQL,
                               "8-gram eval-set decontamination"),
    "llm_pii_scrub": Query(llm_pii_scrub, LLM_PII_SCRUB_SQL,
                           "regex PII redaction pass"),
    "llm_embed_quantize": Query(llm_embed_quantize, LLM_EMBED_QUANTIZE_SQL,
                                "int8 embedding quantization"),
    "llm_corpus_stats": Query(llm_corpus_stats, LLM_CORPUS_STATS_SQL,
                              "one-row corpus summary"),
    "mm_decode_meta": Query(mm_decode_meta, MM_DECODE_META_SQL,
                            "multimodal binary metadata extraction"),
    "mm_frame_sample": Query(mm_frame_sample, MM_FRAME_SAMPLE_SQL,
                             "payload frame-sampling fan-out"),
    "llm_repeat_ngram": Query(llm_repeat_ngram, LLM_REPEAT_NGRAM_SQL,
                              "intra-doc repeated-trigram quality signal"),
    "mm_audio_window": Query(mm_audio_window, MM_AUDIO_WINDOW_SQL,
                             "audio-window integer energy statistics"),
    "mm_resize": Query(mm_resize, MM_RESIZE_SQL,
                       "payload resize geometry pass"),
    "mm_feature_extract": Query(mm_feature_extract, MM_FEATURE_EXTRACT_SQL,
                                "byte-level payload feature extraction"),
    "llm_doc_chunk": Query(llm_doc_chunk, LLM_DOC_CHUNK_SQL,
                           "context-window chunking with overlap"),
    "llm_pack_sequences": Query(llm_pack_sequences, LLM_PACK_SEQUENCES_SQL,
                                "greedy sequence packing into token bins"),
    "llm_knn_join": Query(
        llm_knn_join, LLM_KNN_JOIN_SQL,
        "batch k-NN join, two-stage partial top-k",
        eager="compute",
    ),
    "llm_cross_dedup": Query(
        llm_cross_dedup, LLM_CROSS_DEDUP_SQL,
        "snapshot-incremental fingerprint dedup",
    ),
    "llm_bigram_lm": Query(
        llm_bigram_lm, LLM_BIGRAM_LM_SQL,
        "bigram statistical-LM quality score (transcendental-free)",
    ),
    "llm_data_split": Query(
        llm_data_split, LLM_DATA_SPLIT_SQL,
        "deterministic train/val/test split assignment",
    ),
    "llm_sim_search_pq": Query(
        llm_sim_search_pq, None, "PQ ANN with ADC scoring + exact re-rank",
        eager="compute",
    ),
    "llm_bpe_pairs": Query(
        llm_bpe_pairs, LLM_BPE_PAIRS_SQL,
        "BPE merge-candidate counting (adjacent token pairs, top-20)",
    ),
    "llm_curation_pipeline": Query(
        llm_curation_pipeline, LLM_CURATION_PIPELINE_SQL,
        "quality gate -> exact dedup -> rebalance -> split, one plan",
    ),
    "llm_mix_weights": Query(
        llm_mix_weights, LLM_MIX_WEIGHTS_SQL,
        "capped uniform-target language mixture reweighting",
    ),
    "llm_winnow_fingerprint": Query(
        llm_winnow_fingerprint, LLM_WINNOW_SQL,
        "winnowing local fingerprints (SIGMOD 2003)"),
    "llm_hard_negatives": Query(
        llm_hard_negatives, _hn_sql(),
        "label-aware hard-negative mining (contrastive training pairs)",
        eager="compute"),
    "llm_span_corruption": Query(
        llm_span_corruption, LLM_SPAN_CORRUPTION_SQL,
        "T5-style deterministic span corruption (input/target pairs)"),
    "llm_bpe_train": Query(
        llm_bpe_train, LLM_BPE_TRAIN_SQL,
        "3 exact distributed BPE merge iterations (unrolled SQL oracle)",
        eager="compute"),
    "llm_bpe_encode": Query(
        llm_bpe_encode, LLM_BPE_ENCODE_SQL,
        "apply learned BPE merges: per-doc encoded-sequence stats + hash",
        eager="compute"),
    "llm_paragraph_dedup": Query(
        llm_paragraph_dedup, LLM_PARAGRAPH_DEDUP_SQL,
        "C4-style cross-doc boilerplate segment removal + reassembly",
    ),
    "llm_dedup_apply": Query(
        llm_dedup_apply, LLM_DEDUP_APPLY_SQL,
        "dedup application: one canonical survivor per dup cluster",
        eager="compute",
    ),
    "llm_ngram_novelty": Query(
        llm_ngram_novelty, LLM_NGRAM_NOVELTY_SQL,
        "fraction of per-doc shingles unique in the corpus (df=1)",
    ),
    "llm_prefix_dedup": Query(
        llm_prefix_dedup, LLM_PREFIX_DEDUP_SQL,
        "prefix-truncation duplicates via 32-char block join + verify",
    ),
    "mm_scene_cut": Query(
        mm_scene_cut, MM_SCENE_CUT_SQL,
        "frame-delta scene-change detection over binary payloads",
    ),
    "llm_collocations": Query(
        llm_collocations, LLM_COLLOCATIONS_SQL,
        "word2vec phrase mining by discounted lift (transcendental-free)",
    ),
    "llm_vocab_growth": Query(
        llm_vocab_growth, LLM_VOCAB_GROWTH_SQL,
        "Heaps-law vocabulary saturation curve per doc checkpoint",
    ),
    "mm_phash": Query(
        mm_phash, MM_PHASH_SQL,
        "average-hash payload signatures + collision dedup counts",
    ),
}
