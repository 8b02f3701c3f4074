"""Training-data text operators over the ``documents`` table, each
paired with a DuckDB oracle built from the same portable md5/list
primitives (the algorithms are engine-portable by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.functions import dedup as D
from crypto_price_tracker_with_etl_dashboard_spark.functions import text as T
from crypto_price_tracker_with_etl_dashboard_spark.operators._session_cache import (
    scratch,
)
from crypto_price_tracker_with_etl_dashboard_spark.queries import register
from crypto_price_tracker_with_etl_dashboard_spark.sources import load_table

# In oracle SQL, tokens(text) for the space-normalized corpus:
_SQL_TOKS = "string_split(text, ' ')"


# ---- exact dedup on content fingerprint ------------------------------------

def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


register(
    "doc_exact_dedup",
    q_doc_exact_dedup,
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS kept_doc_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)


# ---- token counting + quality features -------------------------------------

def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = T.quality_features("text")
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in feats.items()]
    )


register(
    "doc_quality",
    q_doc_quality,
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
           CAST((length(text) - (len({_SQL_TOKS}) - 1)) AS DOUBLE)
               / len({_SQL_TOKS}) AS mean_token_len,
           CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
           CAST(len(list_intersect({_SQL_TOKS},
                ['the','a','and','of','to'])) AS BIGINT) AS distinct_stopwords
    FROM documents
    """,
)


# ---- language-ID heuristic --------------------------------------------------

def q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_guess("text").alias("lang_guess"))


def _langid_sql() -> str:
    hit_exprs = []
    for lang, markers in T.LANG_MARKERS.items():
        arr = "[" + ",".join(f"'{w}'" for w in markers) + "]"
        hit_exprs.append(f"len(list_intersect({_SQL_TOKS}, {arr})) AS h_{lang}")
    hits_sql = ",\n           ".join(hit_exprs)
    best = "greatest(" + ", ".join(f"h_{l}" for l in T.LANG_MARKERS) + ")"
    case = "CASE "
    for lang in T.LANG_MARKERS:  # declaration order = priority order
        case += f"WHEN {best} > 0 AND h_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    WITH hits AS (
      SELECT doc_id,
           {hits_sql}
      FROM documents
    )
    SELECT doc_id, {case} AS lang_guess FROM hits
    """


register("doc_langid", q_doc_langid, _langid_sql())


# ---- fingerprint ------------------------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint("text").alias("fp"))


register(
    "doc_fingerprint",
    q_doc_fingerprint,
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)


# ---- n-gram Jaccard near-dup pairs (blocked all-pairs) ----------------------

_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] "
    "|| ' ' || string_split(text,' ')[i+2]))"
)


# Stop-shingle skew cap ON by default: the certified path (and the
# one a user copies) must be the 100 TB-safe variant — a boilerplate
# shingle shared by m docs of a block otherwise emits C(m,2) posting
# pairs from ONE join key (r2 verdict "What's wrong #4").  100 docs/
# shingle bounds any single key at 4,950 pairs while leaving genuine
# near-dup overlap (shared by a handful of docs) untouched.
_NGRAM_MAX_DF = 100


def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=0.1, max_doc_freq=_NGRAM_MAX_DF)


register(
    "doc_ngram_jaccard",
    q_doc_ngram_jaccard,
    f"""
    WITH sh AS (
      SELECT doc_id, lang, {_SQL_SHINGLES} AS s FROM documents
    ),
    posts AS (
      SELECT lang, doc_id, unnest(s) AS shingle FROM sh
    ),
    capped AS (
      SELECT lang, doc_id, shingle FROM (
        SELECT lang, doc_id, shingle,
               COUNT(*) OVER (PARTITION BY lang, shingle) AS df
        FROM posts
      ) WHERE df <= {_NGRAM_MAX_DF}
    ),
    sized AS (
      SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id
    ),
    counts AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM capped a JOIN capped b
        ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
    FROM counts
    JOIN sized na ON na.doc_id = counts.doc_a
    JOIN sized nb ON nb.doc_id = counts.doc_b
    WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.1
    """,
)


# ---- BPE-ish tokenization stats ---------------------------------------------

def q_doc_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", "text", T.bpe_tokens("text").alias("bpe"))
    return toked.select(
        "doc_id",
        F.size("bpe").cast("bigint").alias("n_bpe_tokens"),
        T.token_count("text").cast("bigint").alias("n_ws_tokens"),
        F.size(F.filter(F.col("bpe"), lambda t: t.rlike("^ ?[0-9]+$")))
        .cast("bigint")
        .alias("n_digit_tokens"),
    )


register(
    "doc_token_bpe",
    q_doc_token_bpe,
    f"""
    WITH toked AS (
      SELECT doc_id, text,
             regexp_extract_all(text, '{T.BPE_PATTERN.replace("'", "''")}') AS bpe
      FROM documents
    )
    SELECT doc_id,
           CAST(len(bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(len({_SQL_TOKS}) AS BIGINT) AS n_ws_tokens,
           CAST(len(list_filter(bpe, t -> regexp_matches(t, '^ ?[0-9]+$')))
                AS BIGINT) AS n_digit_tokens
    FROM toked
    """,
)


# ---- winnowing (rolling-hash) fingerprints ----------------------------------

_WINNOW_K = 5
_WINNOW_W = 4


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hashed = docs.select(
        "doc_id", T.gram_hashes("text", _WINNOW_K).alias("hs")
    )
    fps = hashed.select(
        "doc_id", T.winnow_fingerprints(F.col("hs"), _WINNOW_W).alias("fps")
    )
    return fps.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.aggregate("fps", F.lit(0).cast("bigint"), lambda a, v: a + v).alias(
            "fp_checksum"
        ),
    )


register(
    "doc_winnow",
    q_doc_winnow,
    f"""
    WITH hashed AS (
      SELECT doc_id,
             CASE WHEN strlen(text) >= {_WINNOW_K}
                  THEN list_transform(range(1, strlen(text) - {_WINNOW_K} + 2),
                       i -> ('0x' || substr(md5(substr(text, i, {_WINNOW_K})), 1, 8))::BIGINT)
                  ELSE [] END AS hs
      FROM documents
    ),
    fps AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= {_WINNOW_W}
                  THEN list_distinct(list_transform(range(0, len(hs) - {_WINNOW_W} + 1),
                       j -> list_min(hs[j + 1 : j + {_WINNOW_W}])))
                  ELSE [] END AS fps
      FROM hashed
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_checksum
    FROM fps
    """,
)


# ---- MinHash + LSH near-dup candidates --------------------------------------

# 8 bands x 2 rows: for a near-dup with Jaccard j, the probability of
# sharing at least one band is 1-(1-j^2)^8 (~0.99 at j=0.65), vs
# ~0.59 for 4 bands x 4 rows — bands are the recall knob.
_NUM_HASHES = 16
_BANDS = 8


def q_doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, num_hashes=_NUM_HASHES, bands=_BANDS)


def _banded_cte_sql() -> str:
    """The sh/hashed/sigs/banded CTE chain mirroring
    functions/dedup.py::_banded_signatures — the shared prefix of
    _minhash_sql (pairs) and the bucket-profile oracle."""
    from crypto_price_tracker_with_etl_dashboard_spark.functions.dedup import (
        _MERSENNE_P,
        minhash_params,
    )

    rows = _NUM_HASHES // _BANDS
    # Same universal-hash families as the Spark side: one md5 per
    # shingle -> 60-bit base hash x, then (a_j*x + b_j) mod 2^61-1
    # in exact 128-bit integer arithmetic (HUGEINT here, decimal(38,0)
    # on the Spark side).
    fams = []
    for j in range(_NUM_HASHES):
        a, b = minhash_params(j)
        fams.append(
            f"list_min(list_transform(h, "
            f"x -> CAST((x::HUGEINT * {a} + {b}) % {_MERSENNE_P} AS BIGINT)))"
        )
    sig = "[" + ", ".join(fams) + "]"
    band_structs = ", ".join(
        "{'band_idx': %d, 'band_key': md5(%s)}"
        % (b, " || '|' || ".join(f"sig[{b * rows + r + 1}]" for r in range(rows)))
        for b in range(_BANDS)
    )
    return f"""sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS s FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h
      FROM sh WHERE len(s) > 0
    ),
    sigs AS (
      SELECT doc_id, {sig} AS sig FROM hashed
    ),
    banded AS (
      SELECT doc_id, sig, unnest([{band_structs}],  recursive := true)
      FROM sigs
    )"""


def _minhash_sql() -> str:
    return f"""
    WITH {_banded_cte_sql()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_filter(range(1, {_NUM_HASHES} + 1),
                    i -> a.sig[i] = b.sig[i])) AS DOUBLE) / {_NUM_HASHES} AS est_jaccard
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    """


register("doc_minhash_lsh", q_doc_minhash_lsh, _minhash_sql())


# ---- SimHash ----------------------------------------------------------------

def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hashed = docs.select("doc_id", D.token_hashes("text").alias("hs"))
    return hashed.select(
        "doc_id", D.simhash32_from_hashes(F.col("hs")).alias("simhash")
    )


def _simhash_sql() -> str:
    hashes = f"list_transform({_SQL_TOKS}, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)"
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    return f"""
    WITH h AS (SELECT doc_id, {hashes} AS h FROM documents)
    SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM h
    """


register("doc_simhash", q_doc_simhash, _simhash_sql())


# ---- SimHash banded-Hamming near-dup join ----------------------------------
# The signature table is cached per call in one scratch slot (both
# join sides consume it inside one action; the next call drops it).

# 2 bands x 16 bits, hamming <= 1: the Manku banding bound
# (max_hamming < n_bands) at the operating point a 32-BIT signature
# supports — each bit carries 2x the weight of the usual 64-bit
# setting, and hamming<=3 on 32 bits admits ~25x more (mostly
# sketch-noise) pairs than <=1 while the wider 16-bit band keys make
# candidate buckets far more selective.
_SH_BANDS, _SH_BAND_BITS, _SH_MAX_HAMMING = 2, 16, 1


def q_doc_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    sigs = scratch("doc_simhash_neardup", spark).cache(
        docs.select("doc_id", D.token_hashes("text").alias("hs")).select(
            "doc_id", D.simhash32_from_hashes(F.col("hs")).alias("simhash")
        )
    )
    pairs = D.simhash_hamming_pairs(
        sigs, id_col="doc_id", sim_col="simhash",
        n_bands=_SH_BANDS, band_bits=_SH_BAND_BITS,
        max_hamming=_SH_MAX_HAMMING,
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


def _simhash_neardup_sql() -> str:
    mask = (1 << _SH_BAND_BITS) - 1
    band_structs = ", ".join(
        f"{{'band_idx': {b}, 'band_key': (sh >> {b * _SH_BAND_BITS}) & {mask}}}"
        for b in range(_SH_BANDS)
    )
    return f"""
    WITH sigs AS ({_simhash_sql().replace('AS simhash', 'AS sh')}),
    banded AS (
      SELECT doc_id, sh, unnest([{band_structs}], recursive := true)
      FROM sigs
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= {_SH_MAX_HAMMING}
    """


register("doc_simhash_neardup", q_doc_simhash_neardup, _simhash_neardup_sql())


# ---- TF-IDF-style distinctive terms per document ---------------------------
# Score = tf * (N+1)/(df+1): the idf is kept as a raw ratio (no ln)
# because Java's Math.log and libm's log differ in the last ulp —
# ranking behavior is the same, and every arithmetic op here is
# exactly representable (tf, df, N are small ints) so the oracle
# comparison is bit-exact.  Plan shape: explode -> two hash aggs
# (term-per-doc, then term) -> broadcast of the term-df side back
# onto the per-doc tf table -> per-doc window top-k.

def q_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # explode_outer: plain explode's inferred size>0 filter would
    # re-tokenize at the scan (see dedup.contamination_report); the
    # term != '' predicate already drops the null row it emits.
    terms = docs.select(
        "doc_id", F.explode_outer(T.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs") + 1).cast("double")
            / (F.col("df") + 1).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


register(
    "doc_top_terms",
    q_doc_top_terms,
    f"""
    WITH terms AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms
      WHERE term <> '' GROUP BY 1, 2
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df,
           CAST(tf AS DOUBLE) * CAST(n_docs + 1 AS DOUBLE)
             / CAST(df + 1 AS DOUBLE) AS score,
           rnk
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE)
                        / CAST(df.df + 1 AS DOUBLE) DESC, tf.term ASC
             ) AS rnk
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    WHERE rnk <= 3
    """,
)


# ---- Near-dup clusters: LSH pairs -> connected components ------------------
# The step after pair generation in a real dedup pipeline: group
# transitively-linked near-dups into clusters, pick the min doc_id as
# the canonical representative.  Oracle: transitive closure via a
# recursive CTE (fine for the oracle's small graphs; the Spark side
# is the scalable label-propagation operator).

_CLUSTER_MIN_EST_J = 0.5


def q_doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.components import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=_NUM_HASHES, bands=_BANDS).filter(
        F.col("est_jaccard") >= _CLUSTER_MIN_EST_J
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return (
        cc.groupBy("component")
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(F.sort_array(F.collect_list("node")), ",").alias("members"),
        )
        .select(F.col("component").alias("cluster_id"), "n_docs", "members")
    )


def _dup_clusters_sql() -> str:
    return f"""
    WITH RECURSIVE pairs AS (
      {_minhash_sql()}
    ),
    strong AS (
      SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= {_CLUSTER_MIN_EST_J}
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM strong
      UNION SELECT doc_b, doc_a FROM strong
    ),
    walk(n, m) AS (
      SELECT s, d FROM edges
      UNION
      SELECT w.n, e.d FROM walk w JOIN edges e ON w.m = e.s
    ),
    comp AS (
      SELECT n, least(n, MIN(m)) AS component FROM walk GROUP BY n
    )
    SELECT component AS cluster_id, COUNT(*) AS n_docs,
           string_agg(n, ',' ORDER BY n) AS members
    FROM comp GROUP BY component
    """


register("doc_dup_clusters", q_doc_dup_clusters, _dup_clusters_sql())


# ---- Benchmark decontamination ---------------------------------------------
# Composition of the deterministic split (functions/sampling.py) and
# the shingle machinery: the LCG-derived 'test' slice plays the held-
# out benchmark, and every 'train' document reports how many of its
# 3-gram shingles leak into it.  The eval shingle set is broadcast —
# the train corpus never shuffles (see contamination_report).

def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        hash_split,
        lcg_bucket,
    )
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    # lcg hasher so the DuckDB twin reproduces the split; production
    # default is xxhash_bucket (not SQL-portable)
    docs = hash_split(
        fan_out(load_table(spark, sf_dir, "documents")), "doc_id", hasher=lcg_bucket
    )
    train = docs.filter(F.col("split") == "train")
    test = docs.filter(F.col("split") == "test")
    return D.contamination_report(train, test).orderBy("doc_id")


from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (  # noqa: E402
    sql_lcg_bucket,
)

register(
    "doc_decontaminate",
    q_doc_decontaminate,
    f"""
    WITH labeled AS (
      SELECT doc_id, text,
             CASE WHEN {sql_lcg_bucket('doc_id')} < 80 THEN 'train'
                  WHEN {sql_lcg_bucket('doc_id')} < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    ),
    sh AS (SELECT doc_id, split, {_SQL_SHINGLES} AS s FROM labeled),
    ev AS (SELECT DISTINCT unnest(s) AS u FROM sh WHERE split = 'test'),
    tr_ex AS (SELECT doc_id, unnest(s) AS u FROM sh WHERE split = 'train'),
    hits AS (
      SELECT tr_ex.doc_id, COUNT(*) AS shared
      FROM tr_ex JOIN ev ON tr_ex.u = ev.u
      GROUP BY tr_ex.doc_id
    )
    SELECT t.doc_id, len(t.s) AS n_shingles,
           COALESCE(h.shared, 0) AS shared,
           COALESCE(h.shared, 0) / len(t.s) AS contamination
    FROM sh t LEFT JOIN hits h ON t.doc_id = h.doc_id
    WHERE t.split = 'train' AND len(t.s) > 0
    ORDER BY t.doc_id
    """,
)


# ---- Eval-side contamination coverage (batch 60) ----------------------------
# The benchmark-side mirror of doc_decontaminate: per EVAL (test-
# split) document, what fraction of its 3-word shingles leaks from
# the train split — the "drop this benchmark item" report (GPT-3
# appendix-C protocol scores the eval set, not the train set).  Scale
# shape flips with the roles: the train corpus is the 100 TB side, so
# it is scanned map-only against a BROADCAST eval shingle set, and
# only the matched shingles (<= |eval shingles| distinct values, a
# benchmark-bounded set) ever reach an exchange.  See
# functions/dedup.py::eval_contamination_report.

def q_doc_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        hash_split,
        lcg_bucket,
    )
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    # lcg hasher so the DuckDB twin reproduces the split; production
    # default is xxhash_bucket (not SQL-portable)
    docs = hash_split(
        fan_out(load_table(spark, sf_dir, "documents")), "doc_id", hasher=lcg_bucket
    )
    train = docs.filter(F.col("split") == "train")
    test = docs.filter(F.col("split") == "test")
    return D.eval_contamination_report(train, test).orderBy("doc_id")


register(
    "doc_eval_contamination",
    q_doc_eval_contamination,
    f"""
    WITH labeled AS (
      SELECT doc_id, text,
             CASE WHEN {sql_lcg_bucket('doc_id')} < 80 THEN 'train'
                  WHEN {sql_lcg_bucket('doc_id')} < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    ),
    sh AS (SELECT doc_id, split, {_SQL_SHINGLES} AS s FROM labeled),
    tr AS (SELECT DISTINCT unnest(s) AS u FROM sh WHERE split = 'train'),
    ev_ex AS (SELECT doc_id, unnest(s) AS u FROM sh WHERE split = 'test'),
    hits AS (
      SELECT ev_ex.doc_id, COUNT(*) AS leaked
      FROM ev_ex JOIN tr ON ev_ex.u = tr.u
      GROUP BY ev_ex.doc_id
    )
    SELECT t.doc_id, len(t.s) AS n_shingles,
           COALESCE(h.leaked, 0) AS leaked,
           COALESCE(h.leaked, 0) / len(t.s) AS contamination
    FROM sh t LEFT JOIN hits h ON t.doc_id = h.doc_id
    WHERE t.split = 'test' AND len(t.s) > 0
    ORDER BY t.doc_id
    """,
)


# ---- PII scrubbing (C4-style redaction) ------------------------------------
# The synthetic corpus contains no natural PII, so the query injects
# a deterministic closed-form payload per doc (email + IPv4 + phone,
# skipped for doc_id % 5 == 0 to exercise zero-count rows) and then
# scrubs it back out — certifying the regex redaction machinery with
# non-trivial counts on BOTH engines.  Redaction order (email -> ip
# -> phone) is part of the contract; see functions/text.py.

def _pii_augmented(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    payload = F.concat(
        F.lit(" contact user"), did, F.lit("@mail.example.com from 10."),
        (did % 200).cast("string"), F.lit("."), (did % 250).cast("string"),
        F.lit(".42 call 555-"),
        F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    aug = F.when(did % 5 == 0, F.col("text")).otherwise(F.concat("text", payload))
    return docs.select("doc_id", aug.alias("text"))


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _pii_augmented(load_table(spark, sf_dir, "documents"))
    counts = T.pii_counts("text")
    return docs.select(
        "doc_id",
        *[c.cast("int").alias(n) for n, c in counts.items()],
        F.length(T.scrub_pii("text")).cast("bigint").alias("scrubbed_len"),
        F.length("text").cast("bigint").alias("orig_len"),
    )


_SQL_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_SQL_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_SQL_PII_PHONE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

register(
    "doc_pii_scrub",
    q_doc_pii_scrub,
    f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text
                  ELSE text || ' contact user' || doc_id
                       || '@mail.example.com from 10.' || (doc_id % 200)
                       || '.' || (doc_id % 250) || '.42 call 555-'
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             END AS text
      FROM documents
    ),
    stages AS (
      SELECT doc_id, text,
             regexp_replace(text, '{_SQL_PII_EMAIL}', '<EMAIL>', 'g') AS t1
      FROM aug
    ),
    stages2 AS (
      SELECT *, regexp_replace(t1, '{_SQL_PII_IP}', '<IP>', 'g') AS t2 FROM stages
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_SQL_PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t1, '{_SQL_PII_IP}')) AS INT)     AS n_ips,
           CAST(len(regexp_extract_all(t2, '{_SQL_PII_PHONE}')) AS INT)  AS n_phones,
           CAST(length(regexp_replace(t2, '{_SQL_PII_PHONE}', '<PHONE>', 'g')) AS BIGINT)
             AS scrubbed_len,
           CAST(length(text) AS BIGINT) AS orig_len
    FROM stages2
    """,
)


# ---- Repetition scoring (Gopher-style duplicate fractions) -----------------

def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = T.repetition_features("text")
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


register(
    "doc_repetition",
    q_doc_repetition,
    f"""
    WITH w AS (
      SELECT doc_id, {_SQL_TOKS} AS words FROM documents
    ),
    g AS (
      SELECT doc_id, words, len(words) AS n_words,
             CASE WHEN len(words) >= 2 THEN
               list_transform(range(1, len(words)),
                              i -> words[i] || ' ' || words[i + 1])
             ELSE [] END AS grams
      FROM w
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(1.0 - len(list_distinct(words)) / CAST(n_words AS DOUBLE), 6)
             AS dup_word_frac,
           CAST(len(grams) AS BIGINT) AS n_bigrams,
           CASE WHEN len(grams) > 0 THEN
             round(1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 6)
           END AS dup_bigram_frac
    FROM g
    """,
)


# ---- BM25 ranked retrieval -------------------------------------------------
# Okapi BM25 (Robertson et al., TREC-3) for a fixed query-term set:
# the keyword-search complement to the vector family — the retrieval
# scorer every data-curation / RAG pipeline keeps next to its ANN
# index.  Scale shape: one tokenize pass feeds both the per-doc
# length table and the (query-terms-only) tf table, the df/N/avgdl
# stats collapse to a 1-row broadcast, and scoring is a broadcast
# join + fixed-order column expression — the corpus shuffles once on
# doc_id (the tf groupBy), never on terms x docs.
#
# Determinism: per-term contributions pivot into FIXED columns and
# sum in term order (a groupBy-sum over term rows would re-associate
# doubles non-deterministically); both engines rank on the 6dp-ROUNDED
# score so a last-ulp ln() divergence cannot reorder the top-k.

_BM25_TERMS = ["dup", "vector", "hash"]  # rare + mid + common: idf spread
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.bm25_topk(
        docs, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B, topk=_BM25_TOPK
    )


def _bm25_contrib_sql(i: int) -> str:
    df_i = f"COALESCE(df_{i}, 0)"
    idf = f"ln(1.0 + (n_docs - {df_i} + 0.5) / ({df_i} + 0.5))"
    denom = (
        f"CAST(tf_{i} AS DOUBLE) + {_BM25_K1} * (1.0 - {_BM25_B}"
        f" + {_BM25_B} * CAST(dl AS DOUBLE) / avgdl)"
    )
    return (
        f"CASE WHEN tf_{i} IS NOT NULL THEN"
        f" {idf} * CAST(tf_{i} AS DOUBLE) * {_BM25_K1 + 1} / ({denom})"
        f" ELSE 0.0 END"
    )


_BM25_TERM_LIST = ", ".join(f"'{t}'" for t in _BM25_TERMS)

register(
    "doc_bm25_topk",
    q_doc_bm25_topk,
    f"""
    WITH terms AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    toks AS (SELECT doc_id, term FROM terms WHERE term <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             CAST((SELECT SUM(dl) FROM dl) AS DOUBLE)
               / (SELECT COUNT(*) FROM documents) AS avgdl
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ({_BM25_TERM_LIST}) GROUP BY 1, 2
    ),
    dfs AS (
      SELECT {", ".join(
        f"SUM(CASE WHEN term = '{t}' THEN df END) AS df_{i}"
        for i, t in enumerate(_BM25_TERMS)
      )}
      FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
    ),
    per_doc AS (
      SELECT doc_id, {", ".join(
        f"SUM(CASE WHEN term = '{t}' THEN tf END) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
      )}
      FROM tf GROUP BY 1
    ),
    scored AS (
      SELECT p.doc_id,
             round({" + ".join(
               f"({_bm25_contrib_sql(i)})"
               for i in range(len(_BM25_TERMS))
             )}, 6) AS score
      FROM per_doc p JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN dfs
    )
    SELECT doc_id, score, rnk FROM (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= {_BM25_TOPK}
    """,
)


# ---- Corpus bigram counts (LM vocabulary / merge statistics) ----------------
# The n-gram frequency pass a tokenizer-training or LM-data pipeline
# runs over the corpus: adjacent-token pairs, global counts, top-20
# (ties -> bigram ASC).  One shuffle on the bigram key with map-side
# partials; the top-k is orderBy+limit (TakeOrdered — no global
# single-partition window).  Registered r6 outside the driver window;
# check_oracle-certified this round, r7 debut candidate.

_BIGRAM_TOPK = 20


def q_doc_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toked = docs.select(T.tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("toks"), i),
                    F.element_at(F.col("toks"), i + 1),
                ),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(_BIGRAM_TOPK)
    )


register(
    "doc_bigram_topk",
    q_doc_bigram_topk,
    f"""
    WITH toked AS (
      SELECT {_SQL_TOKS} AS toks FROM documents
      WHERE len({_SQL_TOKS}) >= 2
    ),
    bigrams AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM toked
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT {_BIGRAM_TOPK}
    """,
)


# ---- Fuzzy (edit-distance) key join ----------------------------------------
# Entity resolution over document title keys (the first 24 lowercased
# chars): q-gram inverted index for candidates, Levenshtein confirm.
# The stop-gram cap bounds any one gram's C(m,2) candidate blowup —
# the knob that keeps candidate volume output-bound at 100 TB
# (measured: 21k candidates -> 27 pairs at sf0.01, 63k -> 201 at
# sf0.1; 10x data, ~3x candidates).

_FUZZY_KEY_LEN = 24
_FUZZY_Q = 3
_FUZZY_MAX_DIST = 4
_FUZZY_GRAM_CAP = 50


def q_doc_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.dedup import (
        fuzzy_key_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.lower(F.substring("text", 1, _FUZZY_KEY_LEN)).alias("key"),
    )
    return fuzzy_key_pairs(
        keyed, id_col="doc_id", key_col="key",
        q=_FUZZY_Q, max_dist=_FUZZY_MAX_DIST, max_doc_freq=_FUZZY_GRAM_CAP,
    ).orderBy("id_a", "id_b")


def _fuzzy_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.dedup import (
        sql_fuzzy_key_pairs,
    )

    keys_cte = f"""keys AS (
      SELECT doc_id AS __id, lower(substr(text, 1, {_FUZZY_KEY_LEN})) AS __key
      FROM documents WHERE text IS NOT NULL
    )"""
    return (
        sql_fuzzy_key_pairs(
            keys_cte, q=_FUZZY_Q, max_dist=_FUZZY_MAX_DIST,
            max_doc_freq=_FUZZY_GRAM_CAP,
        )
        + " ORDER BY id_a, id_b"
    )


register("doc_fuzzy_join", q_doc_fuzzy_join, _fuzzy_sql())


# ---- Bigram coverage (LM fluency proxy) ------------------------------------
# Per-document fraction of token bigrams that appear in the corpus's
# top-N bigram table — the cheap integer stand-in for LM perplexity
# scoring: fluent text reuses common collocations, gibberish and
# boilerplate-stripped fragments don't.  The reference table is
# TakeOrdered top-N (ties -> bigram ASC, deterministic) and
# BROADCAST; per-doc scoring is one (doc_id) agg.  Coverage is
# integer ppm — exact on both engines.

_COVERAGE_REF_N = 500


def q_doc_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", T.tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("toks"), i),
                    F.element_at(F.col("toks"), i + 1),
                ),
            )
        ).alias("bigram"),
    )
    ref = (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("bigram").asc())
        .limit(_COVERAGE_REF_N)
        .select("bigram", F.lit(1).alias("__hit"))
    )
    return (
        bg.join(F.broadcast(ref), "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("matched"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.col("matched").cast("bigint").alias("matched"),
            F.expr("(matched * 1000000) div n_bigrams")
            .cast("bigint")
            .alias("coverage_ppm"),
        )
    )


register(
    "doc_bigram_coverage",
    q_doc_bigram_coverage,
    f"""
    WITH toked AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
      WHERE len({_SQL_TOKS}) >= 2
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM toked
    ),
    ref AS (
      SELECT bigram FROM (
        SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
        ORDER BY n DESC, bigram ASC LIMIT {_COVERAGE_REF_N}
      )
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(COUNT(r.bigram) AS BIGINT) AS matched,
           CAST((COUNT(r.bigram) * 1000000) // COUNT(*) AS BIGINT)
             AS coverage_ppm
    FROM bg LEFT JOIN ref r ON bg.bigram = r.bigram
    GROUP BY bg.doc_id
    """,
)


# ---- token-distribution drift between corpus halves ------------------------
# The distribution-shift monitor a training pipeline runs when a new
# crawl lands: hash the corpus into two halves, compare each frequent
# token's probability between them.  Everything stays integer (counts
# and round()-quantized ppm shares), so the report is bit-exact; the
# only log-free divergence is used (total-variation contribution =
# |p_a - p_b|), because ln() is not correctly-rounded-identical
# across libm implementations (same reason doc_top_terms keeps its
# idf as a raw ratio).  Plan: explode -> one (split, term) hash agg
# -> term-level pivot agg -> broadcast 1-row totals -> top-K of the
# shared vocabulary by drift.  Two shuffles on the token stream,
# both map-side combined; output is a fixed K rows.

_DRIFT_VOCAB = 200
_DRIFT_TOP = 50


def q_doc_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        hash_split,
        lcg_bucket,
    )

    docs = load_table(spark, sf_dir, "documents")
    halves = hash_split(
        docs, "doc_id", {"a": 50, "b": 50}, hasher=lcg_bucket
    )
    terms = halves.select(
        "split", F.explode_outer(T.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    per_term = (
        terms.groupBy("term")
        .agg(
            F.sum(F.when(F.col("split") == "a", 1).otherwise(0)).alias("cnt_a"),
            F.sum(F.when(F.col("split") == "b", 1).otherwise(0)).alias("cnt_b"),
        )
    )
    totals = per_term.agg(
        F.sum("cnt_a").alias("__ta"), F.sum("cnt_b").alias("__tb")
    )
    vocab = per_term.orderBy(
        (F.col("cnt_a") + F.col("cnt_b")).desc(), F.col("term").asc()
    ).limit(_DRIFT_VOCAB)
    p_a = F.round(F.col("cnt_a") * 1000000.0 / F.col("__ta")).cast("bigint")
    p_b = F.round(F.col("cnt_b") * 1000000.0 / F.col("__tb")).cast("bigint")
    return (
        vocab.crossJoin(F.broadcast(totals))
        .select(
            "term", "cnt_a", "cnt_b",
            p_a.alias("p_a_ppm"), p_b.alias("p_b_ppm"),
            F.abs(p_a - p_b).alias("drift_ppm"),
        )
        .orderBy(F.col("drift_ppm").desc(), F.col("term").asc())
        .limit(_DRIFT_TOP)
    )


def _token_drift_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        sql_lcg_bucket,
    )

    return f"""
    WITH halves AS (
      SELECT CASE WHEN {sql_lcg_bucket('doc_id')} < 50 THEN 'a' ELSE 'b' END
               AS split, text
      FROM documents
    ),
    terms AS (
      SELECT split, unnest({_SQL_TOKS}) AS term FROM halves
    ),
    per_term AS (
      SELECT term,
             SUM(CASE WHEN split = 'a' THEN 1 ELSE 0 END) AS cnt_a,
             SUM(CASE WHEN split = 'b' THEN 1 ELSE 0 END) AS cnt_b
      FROM terms WHERE term <> '' GROUP BY 1
    ),
    totals AS (SELECT SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM per_term),
    vocab AS (
      SELECT term, cnt_a, cnt_b FROM per_term
      ORDER BY cnt_a + cnt_b DESC, term ASC LIMIT {_DRIFT_VOCAB}
    )
    SELECT term,
           CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
           CAST(round(cnt_a * 1000000.0 / ta) AS BIGINT) AS p_a_ppm,
           CAST(round(cnt_b * 1000000.0 / tb) AS BIGINT) AS p_b_ppm,
           abs(CAST(round(cnt_a * 1000000.0 / ta) AS BIGINT)
               - CAST(round(cnt_b * 1000000.0 / tb) AS BIGINT)) AS drift_ppm
    FROM vocab CROSS JOIN totals
    ORDER BY drift_ppm DESC, term ASC
    LIMIT {_DRIFT_TOP}
    """


register("doc_token_drift", q_doc_token_drift, _token_drift_sql())


# ---- per-language quality-percentile curation ------------------------------
# The curation cut a pipeline applies after scoring: keep the top
# quartile of documents per language by a quality score, report what
# the cut did.  The score is a deliberately integer composite
# (n_tokens * (1 + distinct stopword hits) — length crossed with a
# fluency signal) so rank, threshold, and counts are all exact; the
# quartile boundary is rank <= ceil(n/4) with a (score DESC, doc_id)
# total order, so both engines cut the identical doc set even on
# score ties.  ONE shuffle on the language key: the rank window and
# the per-language aggregate share it.  O(|languages|) output.

def q_doc_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    feats = T.quality_features("text")
    scored = docs.select(
        "doc_id", "lang",
        (
            feats["n_tokens"].cast("bigint")
            * (F.lit(1) + feats["distinct_stopwords"].cast("bigint"))
        ).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    ranked = scored.select(
        "lang", "score",
        F.row_number().over(w).alias("__rnk"),
        F.count("*").over(Window.partitionBy("lang")).alias("__n"),
    )
    kept = F.col("__rnk") <= F.expr("(__n + 3) div 4")
    return (
        ranked.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.min(F.when(kept, F.col("score"))).alias("threshold_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("lang")
    )


register(
    "doc_quality_percentile",
    q_doc_quality_percentile,
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len({_SQL_TOKS}) AS BIGINT)
               * (1 + CAST(len(list_intersect({_SQL_TOKS},
                     ['the','a','and','of','to'])) AS BIGINT)) AS score
      FROM documents
    ),
    ranked AS (
      SELECT lang, score,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score DESC, doc_id ASC) AS rnk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM scored
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rnk <= (n + 3) // 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           MIN(CASE WHEN rnk <= (n + 3) // 4 THEN score END) AS threshold_score,
           MAX(score) AS max_score
    FROM ranked
    GROUP BY lang
    ORDER BY lang
    """,
)


# ---- asymmetric containment near-dup pairs ---------------------------------
# The subset-clone detector Jaccard structurally misses: a short doc
# pasted inside a long one has jaccard ~ |short|/|long| (invisible)
# but containment c/min(|A|,|B|) ~ 1.  Same inverted-index +
# stop-shingle-cap plan as doc_ngram_jaccard (the two run off one
# shared posting core, functions/dedup.py::_ngram_pair_counts).

_CONTAINMENT_T = 0.5


def q_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(
        docs, threshold=_CONTAINMENT_T, max_doc_freq=_NGRAM_MAX_DF
    )


register(
    "doc_containment",
    q_doc_containment,
    f"""
    WITH sh AS (
      SELECT doc_id, lang, {_SQL_SHINGLES} AS s FROM documents
    ),
    posts AS (
      SELECT lang, doc_id, unnest(s) AS shingle FROM sh
    ),
    capped AS (
      SELECT lang, doc_id, shingle FROM (
        SELECT lang, doc_id, shingle,
               COUNT(*) OVER (PARTITION BY lang, shingle) AS df
        FROM posts
      ) WHERE df <= {_NGRAM_MAX_DF}
    ),
    sized AS (
      SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id
    ),
    counts AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM capped a JOIN capped b
        ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, c AS n_shared,
           CAST(c AS DOUBLE) / least(na.n, nb.n) AS containment
    FROM counts
    JOIN sized na ON na.doc_id = counts.doc_a
    JOIN sized nb ON nb.doc_id = counts.doc_b
    WHERE CAST(c AS DOUBLE) / least(na.n, nb.n) >= {_CONTAINMENT_T}
    """,
)


# ---- language-ID confusion matrix ------------------------------------------
# The evaluation the langid heuristic deserves: guess vs the corpus's
# labeled lang column, with within-label shares in exact ppm — the
# precision/recall raw material.  One (lang, guess) agg; the share
# window runs over the O(|langs|^2) aggregate.

def q_doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    agg = (
        docs.select("lang", T.lang_guess("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("n"))
    )
    tot = F.sum("n").over(Window.partitionBy("lang"))
    return agg.select(
        "lang", "guess", "n",
        F.round(F.col("n") * 1000000.0 / tot).cast("bigint").alias("share_ppm"),
    ).orderBy("lang", "guess")


def _langid_confusion_sql() -> str:
    # reuse the certified langid CASE expression over the hit counts
    inner = _langid_sql().strip()
    return f"""
    WITH guesses AS ({inner}),
    agg AS (
      SELECT d.lang, g.lang_guess AS guess, COUNT(*) AS n
      FROM documents d JOIN guesses g USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT lang, guess, n,
           CAST(round(n * 1000000.0 / SUM(n) OVER (PARTITION BY lang))
                AS BIGINT) AS share_ppm
    FROM agg
    ORDER BY lang, guess
    """


register("doc_langid_confusion", q_doc_langid_confusion, _langid_confusion_sql())


# ---- certified curation funnel ---------------------------------------------
# The capstone report: the training_data_pipeline example's funnel as
# ONE certified single-row query — input -> quality gate -> exact
# dedup -> near-dup removal -> decontamination, each stage count
# exact.  The oracle COMPOSES the already-certified stage oracles
# (doc_quality / doc_minhash_lsh / doc_decontaminate embedded as
# subqueries), so the SQL twin cannot drift from the per-stage
# definitions.  Near-dup rule is the deterministic keep-first cut:
# drop d when some surviving a < d pairs with it at est_jaccard >=
# 0.5 (no transitive clustering — doc_dup_clusters certifies that
# separately).

_FUNNEL_MIN_TOKENS = 25
_FUNNEL_MIN_STOPWORDS = 1
_FUNNEL_NEAR_J = 0.5
_FUNNEL_CONTAM = 0.8


def q_doc_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        hash_split,
        lcg_bucket,
    )
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = load_table(spark, sf_dir, "documents")
    feats = T.quality_features("text")
    # each funnel stage feeds 2-3 consumers (the next stage, its own
    # count branch, the dropper semi-join): truncate each once so the
    # quality-feature scan and the fingerprint window run once, not
    # per branch (r12, the hits._l1_normalize discipline)
    quality = docs.select(
        "doc_id", "text",
        feats["n_tokens"].alias("__nt"),
        feats["distinct_stopwords"].alias("__sw"),
    ).filter(
        (F.col("__nt") >= _FUNNEL_MIN_TOKENS)
        & (F.col("__sw") >= _FUNNEL_MIN_STOPWORDS)
    ).localCheckpoint(eager=False)
    w = Window.partitionBy(T.fingerprint("text"))
    kept_exact = (
        quality.withColumn("__min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__min_id"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS
    ).filter(F.col("est_jaccard") >= _FUNNEL_NEAR_J)
    droppers = pairs.join(
        kept_exact.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
    ).select(F.col("doc_b").alias("doc_id")).distinct()
    split = hash_split(fan_out(docs), "doc_id", hasher=lcg_bucket)
    contaminated = (
        D.contamination_report(
            split.filter(F.col("split") == "train"),
            split.filter(F.col("split") == "test"),
        )
        .filter(F.col("contamination") >= _FUNNEL_CONTAM)
        .select("doc_id")
    )
    # ONE multi-aggregate pass over the checkpointed kept_exact set
    # replaces the last three count branches (r13, VERDICT #5): the
    # dropper and contamination sets become left-join marker columns
    # (both are DISTINCT doc_id sets, so the joins are row-preserving
    # and a null marker means "not in the set" — exactly the
    # pre-r13 anti-join semantics), and the three funnel counts fall
    # out of one aggregate:
    #   n_after_exact   = every kept_exact row
    #   n_after_neardup = rows with no dropper match
    #   n_final         = rows with no dropper AND no contamination
    # F.count(when(...)) (never-null bigint, 0 on empty input) keeps
    # the output schema and values bit-identical to the old
    # count(*)-per-branch form, while two crossJoined scalar
    # subqueries and two anti-join re-traversals of the funnel drop
    # out of the plan.
    dropper_mark = droppers.select(
        "doc_id", F.lit(1).alias("__dropped")
    )
    contam_mark = contaminated.distinct().select(
        "doc_id", F.lit(1).alias("__contam")
    )
    tail_counts = (
        kept_exact.join(dropper_mark, "doc_id", "left")
        .join(contam_mark, "doc_id", "left")
        .agg(
            F.count("*").alias("n_after_exact"),
            F.count(F.when(F.col("__dropped").isNull(), 1)).alias(
                "n_after_neardup"
            ),
            F.count(
                F.when(
                    F.col("__dropped").isNull() & F.col("__contam").isNull(), 1
                )
            ).alias("n_final"),
        )
    )
    return (
        docs.agg(F.count("*").alias("n_input"))
        .crossJoin(quality.agg(F.count("*").alias("n_quality")))
        .crossJoin(tail_counts)
    )


def _curation_funnel_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.queries import ORACLE_SQL

    quality = ORACLE_SQL["doc_quality"]
    lsh = ORACLE_SQL["doc_minhash_lsh"]
    decon = ORACLE_SQL["doc_decontaminate"]
    fp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
    return (
        """
    WITH quality AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN ("""
        + quality
        + f""") q ON q.doc_id = d.doc_id
      WHERE q.n_tokens >= {_FUNNEL_MIN_TOKENS}
        AND q.distinct_stopwords >= {_FUNNEL_MIN_STOPWORDS}
    ),
    kept_exact AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY {fp}) AS min_id
        FROM quality
      ) WHERE doc_id = min_id
    ),
    droppers AS (
      SELECT DISTINCT p.doc_b AS doc_id FROM ("""
        + lsh
        + f""") p
      JOIN kept_exact k ON k.doc_id = p.doc_a
      WHERE p.est_jaccard >= {_FUNNEL_NEAR_J}
    ),
    after_near AS (
      SELECT doc_id FROM kept_exact
      WHERE doc_id NOT IN (SELECT doc_id FROM droppers)
    ),
    contaminated AS (
      SELECT doc_id FROM ("""
        + decon
        + f""") c WHERE c.contamination >= {_FUNNEL_CONTAM}
    ),
    final AS (
      SELECT doc_id FROM after_near
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_input,
           (SELECT COUNT(*) FROM quality) AS n_quality,
           (SELECT COUNT(*) FROM kept_exact) AS n_after_exact,
           (SELECT COUNT(*) FROM after_near) AS n_after_neardup,
           (SELECT COUNT(*) FROM final) AS n_final
    """
    )


register("doc_curation_funnel", q_doc_curation_funnel, _curation_funnel_sql())


# ---- LSH estimate calibration ----------------------------------------------
# The audit a dedup pipeline owes its threshold choice: for every
# MinHash candidate pair, compare the signature ESTIMATE to the TRUE
# 3-gram Jaccard, aggregated per 0.1-wide estimate band.  Per-pair
# error quantizes to an integer ppm before averaging (no
# order-dependent double accumulation); the true Jaccard is the
# uncapped set ratio, computed only on the candidate pairs — an
# output-bounded set, so the per-pair set intersection is affordable
# at any corpus size (the same argument as the LSH verify stage
# itself).  Output: O(10) band rows.

def q_doc_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
    sh = docs.select(
        "doc_id", D.shingles_from_tokens(T.tokens("text")).alias("__sh")
    )
    joined = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a")
                     .withColumnRenamed("__sh", "__sa"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b")
                .withColumnRenamed("__sh", "__sb"), "doc_b")
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = (F.size("__sa") + F.size("__sb")).cast("double") - inter
    true_j = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    scored = joined.select(
        F.floor(F.col("est_jaccard") * 10).cast("int").alias("band"),
        F.round(F.abs(F.col("est_jaccard") - true_j) * 1000000.0)
        .cast("bigint").alias("__err_ppm"),
        F.round(true_j * 1000000.0).cast("bigint").alias("__true_ppm"),
    )
    return (
        scored.groupBy("band")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("__err_ppm").alias("__s"),
            F.min("__true_ppm").alias("min_true_ppm"),
            F.max("__true_ppm").alias("max_true_ppm"),
        )
        # integer floor division on both engines (a double divide +
        # bigint cast ROUNDS in DuckDB but truncates in Spark)
        .select(
            "band", "n_pairs",
            F.expr("__s div n_pairs").alias("mean_abs_err_ppm"),
            "min_true_ppm", "max_true_ppm",
        )
        .orderBy("band")
    )


def _lsh_calibration_sql() -> str:
    from crypto_price_tracker_with_etl_dashboard_spark.queries import ORACLE_SQL

    lsh = ORACLE_SQL["doc_minhash_lsh"]
    return (
        """
    WITH pairs AS ("""
        + lsh
        + f"""),
    sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS s FROM documents
    ),
    scored AS (
      SELECT CAST(floor(p.est_jaccard * 10) AS INT) AS band,
             CAST(round(abs(p.est_jaccard - CASE
               WHEN (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) > 0
               THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
               ELSE 0.0 END) * 1000000.0) AS BIGINT) AS err_ppm,
             CAST(round(CASE
               WHEN (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) > 0
               THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
               ELSE 0.0 END * 1000000.0) AS BIGINT) AS true_ppm
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b
    )
    SELECT band, COUNT(*) AS n_pairs,
           CAST(SUM(err_ppm) // COUNT(*) AS BIGINT) AS mean_abs_err_ppm,
           MIN(true_ppm) AS min_true_ppm,
           MAX(true_ppm) AS max_true_ppm
    FROM scored
    GROUP BY band
    ORDER BY band
    """
    )


register("doc_lsh_calibration", q_doc_lsh_calibration, _lsh_calibration_sql())


# ---- RAKE keyphrase extraction ---------------------------------------------
# Rapid Automatic Keyword Extraction (Rose et al., 2010): candidate
# phrases are maximal stopword-free token runs (a gaps-and-islands
# window: run_id = pos - row_number within the doc's non-stop
# stream), each word scores degree/frequency over the candidate set,
# and a phrase scores the sum of its words — here in exact integer
# ppm (deg * 1e6 div freq) so every figure is a hard verdict.
#
# Scale shape: tokenization + island grouping pay one doc-key
# shuffle; the word-stat table is O(vocabulary) and joins back onto
# the phrase members (vocab-sized build side — the same trade as
# TF-IDF's df table); the global top-K is a distributed TakeOrdered.
# Phrases are capped at _RAKE_MAX_LEN words (RAKE's standard cap),
# which also bounds the member explode.

_RAKE_STOP = [
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "on",
    "for", "with", "as", "by", "at", "it", "this", "that", "are", "be",
]
_RAKE_MAX_LEN = 4
_RAKE_TOPK = 10


def q_doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).filter(F.col("term") != "")
    nonstop = toks.filter(~F.col("term").isin(_RAKE_STOP))
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = nonstop.withColumn(
        "run", F.col("pos") - F.row_number().over(w)
    )
    phrases = (
        islands.groupBy("doc_id", "run")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda s: s["term"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_LEN)
    )
    members = phrases.select(
        "doc_id", "run", "phrase", "plen",
        F.explode(F.split("phrase", " ")).alias("term"),
    )
    wordscore = (
        members.groupBy("term")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
        .select("term", F.expr("deg * 1000000 div freq").alias("wscore"))
    )
    occ = (
        members.join(wordscore, "term")
        .groupBy("doc_id", "run", "phrase")
        .agg(F.sum("wscore").alias("score_ppm"))
    )
    return (
        occ.groupBy("phrase")
        .agg(F.count("*").alias("n_occ"), F.max("score_ppm").alias("score_ppm"))
        .orderBy(F.col("score_ppm").desc(), F.col("phrase").asc())
        .limit(_RAKE_TOPK)
    )


def _rake_sql() -> str:
    stop_list = ", ".join(f"'{t}'" for t in _RAKE_STOP)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS term
      FROM documents WHERE text IS NOT NULL
    ),
    nonstop AS (
      SELECT doc_id, pos, term FROM toks
      WHERE term <> '' AND term NOT IN ({stop_list})
    ),
    islands AS (
      SELECT doc_id, pos, term,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS run
      FROM nonstop
    ),
    phrases AS (
      SELECT doc_id, run,
             string_agg(term, ' ' ORDER BY pos) AS phrase,
             COUNT(*) AS plen
      FROM islands GROUP BY 1, 2
      HAVING COUNT(*) <= {_RAKE_MAX_LEN}
    ),
    members AS (
      SELECT doc_id, run, phrase, plen,
             unnest(string_split(phrase, ' ')) AS term
      FROM phrases
    ),
    wordscore AS (
      SELECT term, (CAST(SUM(plen) AS BIGINT) * 1000000) // COUNT(*) AS wscore
      FROM members GROUP BY 1
    ),
    occ AS (
      SELECT m.doc_id, m.run, m.phrase,
             CAST(SUM(w.wscore) AS BIGINT) AS score_ppm
      FROM members m JOIN wordscore w USING (term)
      GROUP BY 1, 2, 3
    )
    SELECT phrase, COUNT(*) AS n_occ,
           CAST(MAX(score_ppm) AS BIGINT) AS score_ppm
    FROM occ GROUP BY phrase
    ORDER BY score_ppm DESC, phrase ASC
    LIMIT {_RAKE_TOPK}
    """


register("doc_rake_keyphrases", q_doc_rake_keyphrases, _rake_sql())


# ---- Vocabulary growth (Heaps-law curve) ------------------------------------
# How fast does vocabulary grow as the corpus grows?  The curve that
# sizes tokenizers and predicts dedup payoff.  Exact and one-pass:
# each term's FIRST document (min doc_id) decides which fifth of the
# corpus first contributed it; the cumulative sum over the <= 5 bins
# is the vocabulary size at each 20% checkpoint.  The corpus pays
# one term shuffle (min-agg, map-side combinable); everything after
# is O(5) rows.

def q_doc_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    terms = docs.select(
        "doc_id", F.explode_outer(F.split("text", " ")).alias("term")
    ).filter(F.col("term").isNotNull() & (F.col("term") != ""))
    first = terms.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    mx = docs.agg(F.max("doc_id").alias("mx"))
    bins = (
        first.crossJoin(F.broadcast(mx))
        .select(F.expr("first_doc * 5 div (mx + 1)").alias("bin"), "mx")
        .groupBy("bin", "mx")
        .agg(F.count("*").alias("new_terms"))
    )
    # emit ALL five checkpoints (a saturated corpus contributes no
    # new terms after an early bin — the flat tail IS the finding)
    spine = mx.select(
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("bin"), "mx"
    )
    full = spine.join(bins.drop("mx"), "bin", "left").select(
        "bin", "mx", F.coalesce("new_terms", F.lit(0)).alias("new_terms")
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return full.select(
        ((F.col("bin") + 1) * 20).cast("int").alias("pct_docs"),
        F.expr("(mx + 1) * (bin + 1) div 5").alias("docs_prefix"),
        "new_terms",
        F.sum("new_terms").over(wcum).alias("vocab"),
    ).orderBy("pct_docs")


register(
    "doc_vocab_growth",
    q_doc_vocab_growth,
    """
    WITH docs AS (
      SELECT doc_id, text FROM documents
      WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ),
    terms AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs
    ),
    first AS (
      SELECT term, MIN(doc_id) AS first_doc FROM terms
      WHERE term IS NOT NULL AND term <> '' GROUP BY 1
    ),
    mx AS (SELECT MAX(doc_id) AS mx FROM docs),
    bins AS (
      SELECT (first_doc * 5) // (mx + 1) AS bin, COUNT(*) AS new_terms
      FROM first, mx GROUP BY 1
    ),
    filled AS (
      SELECT t.bin, mx.mx, COALESCE(b.new_terms, 0) AS new_terms
      FROM range(0, 5) t(bin) CROSS JOIN mx LEFT JOIN bins b ON b.bin = t.bin
    )
    SELECT CAST((bin + 1) * 20 AS INT) AS pct_docs,
           ((mx + 1) * (bin + 1)) // 5 AS docs_prefix,
           CAST(new_terms AS BIGINT) AS new_terms,
           CAST(SUM(new_terms) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
    FROM filled
    ORDER BY pct_docs
    """,
)


# ---- Incremental corpus dedup (delta vs base) -------------------------------
# The daily-crawl operator: dedup the NEWEST slice of the corpus
# against everything already ingested, without re-deduping the base.
# Slices come from the doc_id range (last fifth = "today's crawl",
# the same prefix binning doc_vocab_growth uses).  ONE aggregation
# over the full corpus computes, per content fingerprint, (a) whether
# any base doc carries it and (b) the earliest delta doc — so the
# screen costs exactly one fingerprint shuffle plus a delta-sized
# join, never a base x delta pair stage.  Each delta doc gets
# keep = no base occurrence AND first within the delta, plus a
# recompute_keep column (global-first-occurrence, what a full
# from-scratch dedup would decide) — the merge-equals-recompute
# verdict is part of the certified row, the same discipline as
# events_incremental_agg / orders_incremental_join.  At 100 TB the
# delta join's base side would take a Bloom prefilter on base
# fingerprints (events_bloom_prefilter is the building block); the
# aggregation shape is already map-side combinable.

def q_doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    mx = docs.agg(F.max("doc_id").alias("mx"))
    binned = docs.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        T.fingerprint("text").alias("fp"),
        F.expr("doc_id * 5 div (mx + 1)").alias("bin"),
    )
    per_fp = binned.groupBy("fp").agg(
        F.max((F.col("bin") < 4).cast("int")).alias("in_base"),
        F.min(F.when(F.col("bin") == 4, F.col("doc_id"))).alias("delta_min"),
        F.min("doc_id").alias("global_min"),
    )
    delta = binned.filter(F.col("bin") == 4).select("doc_id", "fp")
    return (
        delta.join(per_fp, "fp")
        .select(
            "doc_id",
            "fp",
            (F.col("in_base") == 1).alias("dup_of_base"),
            (
                (F.col("in_base") == 0) & (F.col("doc_id") == F.col("delta_min"))
            ).alias("keep"),
            (F.col("doc_id") == F.col("global_min")).alias("recompute_keep"),
        )
        .orderBy("doc_id")
    )


register(
    "doc_incremental_dedup",
    q_doc_incremental_dedup,
    """
    WITH docs AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ),
    mx AS (SELECT MAX(doc_id) AS mx FROM documents
           WHERE text IS NOT NULL AND doc_id IS NOT NULL),
    binned AS (
      SELECT doc_id, fp, (doc_id * 5) // (mx + 1) AS bin FROM docs, mx
    ),
    per_fp AS (
      SELECT fp,
             MAX(CASE WHEN bin < 4 THEN 1 ELSE 0 END) AS in_base,
             MIN(CASE WHEN bin = 4 THEN doc_id END) AS delta_min,
             MIN(doc_id) AS global_min
      FROM binned GROUP BY 1
    )
    SELECT d.doc_id, d.fp,
           (p.in_base = 1) AS dup_of_base,
           (p.in_base = 0 AND d.doc_id = p.delta_min) AS keep,
           (d.doc_id = p.global_min) AS recompute_keep
    FROM binned d JOIN per_fp p USING (fp)
    WHERE d.bin = 4
    ORDER BY d.doc_id
    """,
)


# ---- Winnowing span overlap (plagiarism-style pair detection) ---------------
# Which document PAIRS share verbatim spans?  doc_winnow certifies
# the per-doc fingerprint sets; this is the pairwise composition the
# fingerprints exist for (Schleimer et al., SIGMOD'03 section 5 —
# source attribution / plagiarism detection in a training corpus).
# Plan is the posting-join discipline of functions/dedup.py
# _ngram_pair_counts: explode (doc, fingerprint), drop fingerprints
# shared by more than _WO_MAX_DF docs BEFORE pairing (one
# boilerplate fingerprint in m docs would emit C(m,2) rows —
# the stop-shingle cap), recount set sizes after the drop, one
# fingerprint-keyed self-join, then a pair aggregate.  Cost tracks
# actual fingerprint co-occurrence (output-sensitive), never
# |docs|^2.  Overlap strength is the containment-style coefficient
# shared * 1e6 // min(|A|, |B|) in exact integers.

_WO_MAX_DF = 16      # stop-fingerprint document-frequency cap
_WO_MIN_SHARED = 3   # report pairs sharing >= 3 winnowed spans


def q_doc_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(
        load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    )
    # materialize the k-gram hash array BEFORE winnowing: the
    # winnow expression references its input several times (size +
    # per-window slices), and an inline gram_hashes would be
    # re-evaluated per reference (the interpreted-lambda trap
    # documented on shingles_from_tokens)
    hashed = docs.select(
        "doc_id", T.gram_hashes("text", _WINNOW_K).alias("hs")
    )
    fps = hashed.select(
        "doc_id", T.winnow_fingerprints(F.col("hs"), _WINNOW_W).alias("fps")
    )
    posts = (
        fps.select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    capped = (
        posts.withColumn("__df", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("__df") <= _WO_MAX_DF)
        .drop("__df")
    )
    sized = capped.withColumn(
        "__n", F.count("*").over(Window.partitionBy("doc_id"))
    )
    a = sized.select(
        "fp", F.col("doc_id").alias("doc_a"), F.col("__n").alias("n_a")
    )
    b = sized.select(
        "fp", F.col("doc_id").alias("doc_b"), F.col("__n").alias("n_b")
    )
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").cast("bigint").alias("shared"))
        .filter(F.col("shared") >= _WO_MIN_SHARED)
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("shared * 1000000 div least(n_a, n_b)").alias("overlap_ppm"),
        )
        .orderBy(F.col("overlap_ppm").desc(), "doc_a", "doc_b")
    )


register(
    "doc_winnow_overlap",
    q_doc_winnow_overlap,
    f"""
    WITH hashed AS (
      SELECT doc_id,
             CASE WHEN strlen(text) >= {_WINNOW_K}
                  THEN list_transform(range(1, strlen(text) - {_WINNOW_K} + 2),
                       i -> ('0x' || substr(md5(substr(text, i, {_WINNOW_K})), 1, 8))::BIGINT)
                  ELSE [] END AS hs
      FROM documents WHERE text IS NOT NULL
    ),
    fps AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= {_WINNOW_W}
                  THEN list_distinct(list_transform(range(0, len(hs) - {_WINNOW_W} + 1),
                       j -> list_min(hs[j + 1 : j + {_WINNOW_W}])))
                  ELSE [] END AS fps
      FROM hashed
    ),
    posts AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
    capped AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM posts
      ) WHERE df <= {_WO_MAX_DF}
    ),
    sized AS (
      SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY doc_id) AS n FROM capped
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           CAST(COUNT(*) * 1000000 // least(a.n, b.n) AS BIGINT) AS overlap_ppm
    FROM sized a JOIN sized b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.n, b.n
    HAVING COUNT(*) >= {_WO_MIN_SHARED}
    ORDER BY overlap_ppm DESC, doc_a, doc_b
    """,
)


# ---- chi-square term-label association (feature selection) -----------------
# The supervised counterpart of doc_top_terms' unsupervised TF-IDF:
# rank each language's most label-associated terms by the 2x2
# chi-square statistic over DOCUMENT PRESENCE (a = docs of lang L
# containing t, b = other-lang docs containing t, c/d their
# complements).  This is the classic filter-method feature selector
# (chi2 feature selection) and, run over a curated corpus, the
# standard "which tokens leak the label" contamination screen.
#
# Exactness: all four cells are integer counts; chi2 is ONE shared
# double expression (the lineitem_quantity_model discipline —
# identical parenthesization on both engines, only correctly-rounded
# *, -, / on exactly-equal integer inputs).  min-df and df<N guards
# keep every denominator factor positive.
_CHI2_MIN_DF = 5
_CHI2_TOP = 5
_CHI2_EXPR = (
    "(CAST(N AS DOUBLE)"
    " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
    "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
    " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
    "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))"
    " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)"
    "    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))"
)


def q_doc_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top chi-square label-associated terms per language.

    Plan shape: presence distinct + the (lang, term) cell aggregate
    shuffle on the term key; the per-term df table, per-lang doc
    counts, and the 1-row N all BROADCAST back (vocab- and
    label-sized relations, never the corpus).  The rank window
    partitions by lang — O(langs) groups of O(vocab) rows."""
    docs = load_table(spark, sf_dir, "documents")
    pres = (
        docs.select(
            "doc_id", "lang", F.explode_outer(T.tokens("text")).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    cell = pres.groupBy("lang", "term").agg(F.count("*").alias("a"))
    df_t = pres.groupBy("term").agg(F.count("*").alias("df"))
    n_l = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    n_docs = docs.agg(F.count("*").alias("N"))
    cells = (
        cell.join(F.broadcast(df_t), "term")
        .join(F.broadcast(n_l), "lang")
        .crossJoin(F.broadcast(n_docs))
        .filter((F.col("df") >= _CHI2_MIN_DF) & (F.col("df") < F.col("N")))
        .select(
            "lang", "term", "a", "df", "N",
            (F.col("df") - F.col("a")).alias("b"),
            (F.col("n_l") - F.col("a")).alias("c"),
            (F.col("N") - F.col("n_l") - F.col("df") + F.col("a")).alias("d"),
        )
    )
    scored = cells.select(
        "lang", "term",
        F.col("a").cast("bigint").alias("n_lang_term"),
        F.col("df").cast("bigint").alias("df"),
        F.expr(_CHI2_EXPR).alias("chi2"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("chi2").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _CHI2_TOP)
        .orderBy("lang", "rnk")
    )


register(
    "doc_chi2_terms",
    q_doc_chi2_terms,
    f"""
    WITH pres AS (
      SELECT DISTINCT doc_id, lang, term FROM (
        SELECT doc_id, lang, unnest({_SQL_TOKS}) AS term FROM documents
      ) WHERE term <> ''
    ),
    cell AS (SELECT lang, term, COUNT(*) AS a FROM pres GROUP BY 1, 2),
    dft AS (SELECT term, COUNT(*) AS df FROM pres GROUP BY 1),
    nl AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY 1),
    nn AS (SELECT COUNT(*) AS N FROM documents),
    cells AS (
      SELECT cell.lang, cell.term, cell.a AS a, dft.df AS df, nn.N AS N,
             dft.df - cell.a AS b,
             nl.n_l - cell.a AS c,
             nn.N - nl.n_l - dft.df + cell.a AS d
      FROM cell JOIN dft USING (term) JOIN nl USING (lang) CROSS JOIN nn
      WHERE dft.df >= {_CHI2_MIN_DF} AND dft.df < nn.N
    ),
    scored AS (
      SELECT lang, term,
             CAST(a AS BIGINT) AS n_lang_term,
             CAST(df AS BIGINT) AS df,
             {_CHI2_EXPR} AS chi2
      FROM cells
    )
    SELECT lang, term, n_lang_term, df, chi2, rnk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY chi2 DESC, term ASC
      ) AS rnk
      FROM scored
    ) WHERE rnk <= {_CHI2_TOP}
    ORDER BY lang, rnk
    """,
)


# ---- readability scoring -----------------------------------------------------
# Flesch-style reading ease per document from three exact integer
# counts — words (nonempty whitespace tokens), sentences (terminal
# punctuation marks, floored at 1), and syllable proxies (vowel-run
# matches, the standard dictionary-free approximation) — composed by
# ONE shared double expression and floored to milli-units.  The
# curation use: reading-ease bands are a common quality/complexity
# facet next to doc_quality's length/punct ratios.
_FLESCH_EXPR = (
    "CAST(floor((206.835"
    " - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))"
    " - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)))"
    " * 1000.0) AS BIGINT)"
)


def q_doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id",
        F.size(F.filter(T.tokens("text"), lambda t: t != "")).cast("bigint")
        .alias("words"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.regexp_count("text", F.lit(r"[.!?]")).cast("bigint"),
        ).alias("sentences"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("bigint")
        .alias("syllables"),
    ).filter(F.col("words") > 0)
    return counts.select(
        "doc_id", "words", "sentences", "syllables",
        F.expr(_FLESCH_EXPR).alias("flesch_milli"),
    )


register(
    "doc_readability",
    q_doc_readability,
    f"""
    WITH counts AS (
      SELECT doc_id,
             CAST(len(list_filter({_SQL_TOKS}, t -> t <> '')) AS BIGINT)
               AS words,
             GREATEST(CAST(1 AS BIGINT),
                      CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT))
               AS sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS syllables
      FROM documents
    )
    SELECT doc_id, words, sentences, syllables,
           {_FLESCH_EXPR} AS flesch_milli
    FROM counts WHERE words > 0
    """,
)


# ---- n-gram novelty / memorization screen -------------------------------------
# Per-document novelty: the share of a doc's distinct 3-gram shingles
# that appear in NO other document (corpus df == 1).  Low novelty =
# boilerplate/duplicated phrasing (near-dup and template suspects the
# pairwise passes rank by partner — this ranks the document itself);
# the same statistic drives memorization audits (how much of a doc is
# corpus-unique text).  One inverted-index aggregate on the shingle
# key, df table joined back to the postings — integer counts only.


def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    posts = docs.select(
        "doc_id", T.tokens("text").alias("__toks")
    ).select(
        "doc_id", F.explode_outer(D.shingles_from_tokens(F.col("__toks"))).alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    # df via a window over the postings, not groupBy + self-join:
    # the join form evaluates the shingle subtree twice (the
    # doc_sentence_dedup lesson)
    w = Window.partitionBy("shingle")
    per_doc = (
        posts.withColumn("df", F.count("*").over(w))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("bigint")).alias("unique_shingles"),
        )
    )
    return per_doc.select(
        "doc_id", "n_shingles", "unique_shingles",
        F.expr("unique_shingles * 1000000 div n_shingles").alias("novelty_ppm"),
    ).orderBy("doc_id")


register(
    "doc_ngram_novelty",
    q_doc_ngram_novelty,
    f"""
    WITH posts AS (
      SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM documents
    ),
    dft AS (SELECT shingle, COUNT(*) AS df FROM posts GROUP BY 1)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS unique_shingles,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // CAST(COUNT(*) AS BIGINT) AS novelty_ppm
    FROM posts p JOIN dft d USING (shingle)
    GROUP BY p.doc_id ORDER BY p.doc_id
    """,
)


# ---- boilerplate / license-marker screen ---------------------------------------
# The web-scrape curation tally next to doc_pii_scrub: how much of
# the corpus carries license/boilerplate markers (copyright lines,
# ToS/privacy boilerplate, lorem-ipsum filler, navigation cruft)?
# Substring containment on the lowered text — deterministic on both
# engines (no regex dialect involved) — one map pass, O(markers)
# output rows.
_BOILERPLATE_MARKERS = [
    "copyright", "all rights reserved", "terms of service",
    "privacy policy", "lorem ipsum", "click here",
]


def q_doc_boilerplate_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    low = docs.select(F.lower("text").alias("__t"))
    # ONE scan: all marker tallies as columns of a single aggregate,
    # then stack() to long form — not one agg job per marker
    sums = low.agg(
        F.count("*").alias("__n"),
        *[
            F.sum(F.col("__t").contains(m).cast("bigint")).alias(f"__m{i}")
            for i, m in enumerate(_BOILERPLATE_MARKERS)
        ],
    )
    stack = ", ".join(
        f"'{m}', __m{i}" for i, m in enumerate(_BOILERPLATE_MARKERS)
    )
    return (
        sums.select(
            F.expr(
                f"stack({len(_BOILERPLATE_MARKERS)}, {stack})"
                " AS (marker, n_docs)"
            ),
            "__n",
        )
        .select(
            "marker", "n_docs",
            F.expr("n_docs * 1000000 div __n").alias("share_ppm"),
        )
        .orderBy("marker")
    )


def _boilerplate_sql() -> str:
    arms = ",\n      ".join(
        f"SELECT '{m}' AS marker,"
        f" CAST(SUM(CASE WHEN contains(lower(text), '{m}')"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS n_docs FROM documents"
        for m in _BOILERPLATE_MARKERS
    )
    arms = arms.replace(",\n      SELECT", "\n      UNION ALL\n      SELECT")
    return f"""
    WITH hits AS (
      {arms}
    ),
    nn AS (SELECT COUNT(*) AS n FROM documents)
    SELECT marker, n_docs, n_docs * 1000000 // nn.n AS share_ppm
    FROM hits CROSS JOIN nn
    ORDER BY marker
    """


register("doc_boilerplate_screen", q_doc_boilerplate_screen, _boilerplate_sql())


# ---- sentence-level dedup screen ---------------------------------------------
# Finer-grained than doc-level dedup (the C4 recipe dedups at the
# line/sentence level): split each document on terminal punctuation,
# fingerprint every >= 20-char normalized sentence, and report per
# document how much of it is corpus-duplicated (appears in at least
# one OTHER document).  One inverted-index aggregate on the sentence
# fingerprint; integer counts only.
_SENT_MIN_CHARS = 20


def q_doc_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sents = (
        docs.select(
            "doc_id", F.explode_outer(F.split("text", r"[.!?]")).alias("__s")
        )
        .select(
            "doc_id",
            F.trim(F.regexp_replace(F.lower("__s"), r"\s+", " ")).alias("__n"),
        )
        .filter(F.length("__n") >= _SENT_MIN_CHARS)
        .select("doc_id", F.md5(F.col("__n")).alias("fp"))
        .distinct()
    )
    # df-per-fingerprint via a window over the (already distinct)
    # postings, not a groupBy + self-join: the join form evaluates
    # the regex-heavy sentence subtree TWICE (16.8s -> ~4s at sf0.01)
    w = Window.partitionBy("fp")
    return (
        sents.withColumn("n_docs", F.count("*").over(w))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sentences"),
            F.sum((F.col("n_docs") > 1).cast("bigint")).alias("dup_sentences"),
        )
        .select(
            "doc_id", "n_sentences", "dup_sentences",
            F.expr("dup_sentences * 1000000 div n_sentences").alias("dup_ppm"),
        )
        .orderBy("doc_id")
    )


register(
    "doc_sentence_dedup",
    q_doc_sentence_dedup,
    f"""
    WITH sents AS (
      SELECT DISTINCT doc_id, md5(n) AS fp FROM (
        SELECT doc_id,
               trim(regexp_replace(lower(s), '\\s+', ' ', 'g')) AS n
        FROM (
          SELECT doc_id, unnest(string_split_regex(text, '[.!?]')) AS s
          FROM documents
        )
      ) WHERE length(n) >= {_SENT_MIN_CHARS}
    ),
    dpf AS (SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM sents GROUP BY 1)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_sentences,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // CAST(COUNT(*) AS BIGINT) AS dup_ppm
    FROM sents s JOIN dpf d USING (fp)
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
)


# ---- duplicate-cluster size distribution ----------------------------------------
# Observability over the MinHash-LSH + connected-components dedup:
# the cluster SIZE histogram (how many pairs vs. how many big blobs?)
# plus the total docs absorbed into clusters — the one-line answer to
# "what did dedup actually remove?".  Reuses the certified
# doc_dup_clusters pipeline and adds an O(sizes) rollup.


def q_doc_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.components import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=_NUM_HASHES, bands=_BANDS).filter(
        F.col("est_jaccard") >= _CLUSTER_MIN_EST_J
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = cc.groupBy("component").agg(F.count("*").cast("bigint").alias("size"))
    return (
        sizes.groupBy("size")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            (F.count("*") * F.col("size").cast("bigint"))
            .cast("bigint")
            .alias("docs_in_clusters"),
        )
        .orderBy("size")
    )


def _dup_cluster_stats_sql() -> str:
    # reuse doc_dup_clusters' oracle CTE prefix (everything up to its
    # final per-component SELECT: pairs/strong/edges/walk/comp) and
    # roll component sizes up into the histogram instead
    base = _dup_clusters_sql()
    cut = base.rindex("SELECT component AS cluster_id")
    prefix = base[:cut]
    return (
        prefix
        + """SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * size AS BIGINT) AS docs_in_clusters
    FROM (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS size
      FROM comp GROUP BY component
    ) GROUP BY size ORDER BY size
    """
    )


register(
    "doc_dup_cluster_stats", q_doc_dup_cluster_stats, _dup_cluster_stats_sql()
)


# ---- dedup rate by stratum --------------------------------------------------
# Which sources are redundant?  Exact-dedup observability per
# (source, lang) stratum: documents whose normalized-content
# fingerprint also appears elsewhere in the corpus (a cross-corpus
# duplicate), as a ppm rate per stratum — the report that decides
# which feeds get de-prioritized.  df per fingerprint via a window
# over the corpus (one pass), then one stratum rollup.


def q_doc_dedup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source", "lang",
        F.md5(T.normalized_text("text")).alias("fp"),
    )
    w = Window.partitionBy("fp")
    return (
        fp.withColumn("__n", F.count("*").over(w))
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("__n") > 1).cast("bigint")).alias("dup_docs"),
        )
        .select(
            "source", "lang", "n_docs", "dup_docs",
            F.expr("dup_docs * 1000000 div n_docs").alias("dup_ppm"),
        )
        .orderBy("source", "lang")
    )


register(
    "doc_dedup_by_source",
    q_doc_dedup_by_source,
    """
    WITH fp AS (
      SELECT source, lang,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    flagged AS (
      SELECT source, lang,
             COUNT(*) OVER (PARTITION BY fp) AS n
      FROM fp
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // CAST(COUNT(*) AS BIGINT) AS dup_ppm
    FROM flagged GROUP BY 1, 2 ORDER BY 1, 2
    """,
)


# ---- LSH precision/recall audit -------------------------------------------------
# The dedup-quality twin of emb_binary_recall: MinHash-LSH candidate
# pairs scored against the EXACT n-gram-Jaccard ground truth (within-
# lang pairs at true J >= 0.35, the cluster threshold).  Both pair
# sets are deterministic and individually driver-certified
# (doc_minhash_lsh, doc_ngram_jaccard), so tp/fp/fn and the
# precision/recall ppm are sharp integers — the measurement a team
# tuning (num_hashes, bands) actually reads, with no tunable pass
# floor.
_PR_TRUTH_J = 0.35


def q_doc_lsh_pr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # both pair pipelines feed TWO consumers each (the tp semi-join
    # and their own count) — truncate each once instead of paying the
    # banded join / posting join twice (r12 optimization, the
    # hits._l1_normalize discipline)
    lsh = D.minhash_lsh_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS
    ).select("doc_a", "doc_b").localCheckpoint(eager=False)
    truth = D.ngram_jaccard_pairs(
        docs, threshold=_PR_TRUTH_J, max_doc_freq=_NGRAM_MAX_DF
    ).select("doc_a", "doc_b").localCheckpoint(eager=False)
    tp = lsh.join(truth, ["doc_a", "doc_b"], "left_semi").agg(
        F.count("*").alias("tp")
    )
    n_lsh = lsh.agg(F.count("*").alias("n_lsh"))
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    return (
        tp.crossJoin(n_lsh)
        .crossJoin(n_truth)
        .select(
            F.lit("lsh_vs_jaccard_0.35").alias("metric"),
            F.col("tp").cast("bigint").alias("tp"),
            (F.col("n_lsh") - F.col("tp")).cast("bigint").alias("fp"),
            (F.col("n_truth") - F.col("tp")).cast("bigint").alias("fn"),
            F.expr(
                "CASE WHEN n_lsh > 0 THEN tp * 1000000 div n_lsh"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("precision_ppm"),
            F.expr(
                "CASE WHEN n_truth > 0 THEN tp * 1000000 div n_truth"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("recall_ppm"),
        )
    )


def _lsh_pr_sql() -> str:
    return f"""
    WITH lsh AS (
      SELECT doc_a, doc_b FROM ({_minhash_sql()})
    ),
    sh AS (
      SELECT doc_id, lang, {_SQL_SHINGLES} AS s FROM documents
    ),
    posts AS (
      SELECT lang, doc_id, unnest(s) AS shingle FROM sh
    ),
    capped AS (
      SELECT lang, doc_id, shingle FROM (
        SELECT lang, doc_id, shingle,
               COUNT(*) OVER (PARTITION BY lang, shingle) AS df
        FROM posts
      ) WHERE df <= {_NGRAM_MAX_DF}
    ),
    sized AS (
      SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id
    ),
    counts AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM capped a JOIN capped b
        ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b
      FROM counts co
      JOIN sized na ON co.doc_a = na.doc_id
      JOIN sized nb ON co.doc_b = nb.doc_id
      WHERE CAST(co.c AS DOUBLE) / (na.n + nb.n - co.c) >= {_PR_TRUTH_J}
    ),
    tp AS (
      SELECT COUNT(*) AS tp FROM lsh l
      WHERE EXISTS (
        SELECT 1 FROM truth t
        WHERE t.doc_a = l.doc_a AND t.doc_b = l.doc_b
      )
    ),
    nl AS (SELECT COUNT(*) AS n_lsh FROM lsh),
    nt AS (SELECT COUNT(*) AS n_truth FROM truth)
    SELECT 'lsh_vs_jaccard_0.35' AS metric,
           CAST(tp AS BIGINT) AS tp,
           CAST(n_lsh - tp AS BIGINT) AS fp,
           CAST(n_truth - tp AS BIGINT) AS fn,
           CASE WHEN n_lsh > 0
                THEN CAST(tp AS BIGINT) * 1000000 // n_lsh
                ELSE CAST(0 AS BIGINT) END AS precision_ppm,
           CASE WHEN n_truth > 0
                THEN CAST(tp AS BIGINT) * 1000000 // n_truth
                ELSE CAST(0 AS BIGINT) END AS recall_ppm
    FROM tp CROSS JOIN nl CROSS JOIN nt
    """


register("doc_lsh_pr_audit", q_doc_lsh_pr_audit, _lsh_pr_sql())


# ---- Zipf rank-frequency check ----------------------------------------------
# The corpus-health screen a tokenizer/LM-data pipeline runs to spot
# template spam or boilerplate floods: natural text keeps rank*freq
# roughly constant (Zipf's law), while machine-generated filler
# collapses the head.  The slope-fit variant needs log-log OLS (ln is
# not engine-portable in the last ulp), so this emits the exact
# integer ingredients instead: the top-40 terms with rank, frequency,
# the rank*freq invariant, and each term's corpus share in ppm.
# Plan: explode -> one hash agg on term (map-side partials) -> 40-row
# TakeOrdered; the row_number window runs AFTER the limit, over a
# bounded 40-row set (not a corpus-wide single-partition sort).

_ZIPF_TOPK = 40


def q_doc_zipf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    terms = docs.select(F.explode_outer(T.tokens("text")).alias("term")).filter(
        F.col("term") != ""
    )
    counts = terms.groupBy("term").agg(F.count("*").cast("bigint").alias("freq"))
    total = counts.agg(F.sum("freq").cast("bigint").alias("total"))
    top = counts.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(_ZIPF_TOPK)
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            "rank",
            "freq",
            (F.col("rank") * F.col("freq")).alias("rank_freq"),
            F.expr("freq * 1000000 div total").alias("share_ppm"),
        )
    )


register(
    "doc_zipf_check",
    q_doc_zipf_check,
    f"""
    WITH terms AS (
      SELECT unnest({_SQL_TOKS}) AS term FROM documents
    ),
    counts AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM terms
      WHERE term <> '' GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM counts),
    ranked AS (
      SELECT term, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, term ASC) AS BIGINT)
               AS rank
      FROM counts
    )
    SELECT term, rank, freq, rank * freq AS rank_freq,
           freq * 1000000 // total AS share_ppm
    FROM ranked CROSS JOIN tot
    WHERE rank <= {_ZIPF_TOPK}
    """,
)


# ---- cross-source near-dup matrix -------------------------------------------
# WHERE is the duplication coming from?  doc_dedup_by_source reports
# each source's own dup rate; this breaks the certified MinHash-LSH
# candidate pairs down by UNORDERED source pair — the
# mirror-site / scraper-overlap view that decides which feeds to
# drop.  Reuses minhash_lsh_pairs verbatim (same banding constants as
# doc_minhash_lsh), joins the two |docs|-row source maps, and folds
# to a |sources|^2-bounded matrix; strong pairs = estimated Jaccard
# >= 0.5 (the dup-cluster threshold).


def q_doc_source_pair_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
            "est_jaccard",
        )
    )
    return (
        tagged.groupBy("source_lo", "source_hi")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum((F.col("est_jaccard") >= 0.5).cast("bigint")).alias(
                "strong_pairs"
            ),
        )
        .orderBy("source_lo", "source_hi")
    )


register(
    "doc_source_pair_dups",
    q_doc_source_pair_dups,
    f"""
    WITH pairs AS ({_minhash_sql()}),
    src AS (SELECT doc_id, source FROM documents)
    SELECT LEAST(a.source, b.source) AS source_lo,
           GREATEST(a.source, b.source) AS source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN est_jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS strong_pairs
    FROM pairs
    JOIN src a ON pairs.doc_a = a.doc_id
    JOIN src b ON pairs.doc_b = b.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)


# ---- SimHash bit-balance audit ------------------------------------------------
# Index-health for the SimHash family (the ivf_list_balance
# discipline): a healthy 32-bit SimHash has each bit set on ~half the
# corpus — a skewed bit carries no Hamming discrimination, and a
# stuck bit (0 or 100%) effectively shortens every signature.  One
# shuffle-free signature pass (reuses the certified doc_simhash
# expression), one explode to (bit, set?) pairs, one 32-row agg.

_SIMHASH_BITS = 32


def q_doc_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hashed = docs.select("doc_id", D.token_hashes("text").alias("hs"))
    sigs = hashed.select(D.simhash32_from_hashes(F.col("hs")).alias("simhash"))
    # literal per-bit shift amounts (shiftright takes an int, not a
    # Column, so the 32-element array is built with a Python loop)
    bits = sigs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bit"),
                        F.shiftright(F.col("simhash"), b)
                        .bitwiseAND(F.lit(1))
                        .alias("set"),
                    )
                    for b in range(_SIMHASH_BITS)
                ]
            )
        ).alias("x")
    ).select("x.bit", "x.set")
    return (
        bits.groupBy("bit")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("set").cast("bigint").alias("n_set"),
        )
        .select(
            F.col("bit").cast("bigint").alias("bit"),
            "n_docs",
            "n_set",
            F.expr("n_set * 1000000 div n_docs").alias("set_ppm"),
            F.expr(
                "abs(2 * n_set - n_docs) * 1000000 div n_docs >= 500000"
            ).alias("skewed"),
        )
        .orderBy("bit")
    )


def _simhash_balance_sql() -> str:
    hashes = f"list_transform({_SQL_TOKS}, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)"
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH h AS (SELECT doc_id, {hashes} AS h FROM documents),
    sigs AS (SELECT CAST({bit_terms} AS BIGINT) AS simhash FROM h),
    bits AS (
      SELECT CAST(unnest(range(0, {_SIMHASH_BITS})) AS BIGINT) AS bit, simhash
      FROM sigs
    )
    SELECT bit,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM((simhash >> CAST(bit AS INT)) & 1) AS BIGINT) AS n_set,
           CAST(SUM((simhash >> CAST(bit AS INT)) & 1) AS BIGINT)
             * 1000000 // COUNT(*) AS set_ppm,
           abs(2 * CAST(SUM((simhash >> CAST(bit AS INT)) & 1) AS BIGINT)
               - COUNT(*)) * 1000000 // COUNT(*) >= 500000 AS skewed
    FROM bits GROUP BY 1 ORDER BY 1
    """


register("doc_simhash_bit_balance", q_doc_simhash_bit_balance, _simhash_balance_sql())


# ---- dedup length-bias audit ---------------------------------------------------
# Does exact dedup remove disproportionately SHORT documents?  (It
# usually does — templates and boilerplate are short — and a curation
# pipeline that doesn't check ends up length-skewing its corpus.)
# Compares mean n_chars of duplicate-group members (group size > 1 on
# the exact fingerprint) against the whole corpus, in exact milli
# integers, plus the ratio.  One fingerprint shuffle (the
# doc_exact_dedup discipline) + two 1-row folds.


def q_doc_dup_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "n_chars", F.md5(T.normalized_text("text")).alias("fp")
    )
    w = Window.partitionBy("fp")
    tagged = fp.withColumn("dup", (F.count("*").over(w) > 1).cast("int"))
    return tagged.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dup").cast("bigint").alias("dup_docs"),
        F.sum("n_chars").cast("bigint").alias("all_chars"),
        F.sum(F.col("n_chars") * F.col("dup")).cast("bigint").alias("dup_chars"),
    ).select(
        # dup-free corpora keep the audit row with NULL dup stats —
        # "no duplicates" is itself the finding (sf0.01 has none)
        "n_docs",
        "dup_docs",
        F.expr("all_chars * 1000 div n_docs").alias("mean_len_all_milli"),
        F.expr(
            "CASE WHEN dup_docs > 0 THEN dup_chars * 1000 div dup_docs END"
        ).alias("mean_len_dup_milli"),
        F.expr(
            "CASE WHEN dup_docs > 0 THEN (dup_chars * 1000 div dup_docs)"
            " * 1000000 div (all_chars * 1000 div n_docs) END"
        ).alias("dup_len_ratio_ppm"),
    )


register(
    "doc_dup_length_bias",
    q_doc_dup_length_bias,
    f"""
    WITH fp AS (
      SELECT n_chars,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    tagged AS (
      SELECT n_chars,
             CASE WHEN COUNT(*) OVER (PARTITION BY fp) > 1 THEN 1 ELSE 0 END
               AS dup
      FROM fp
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dup) AS BIGINT) AS dup_docs,
             CAST(SUM(n_chars) AS BIGINT) AS all_chars,
             CAST(SUM(n_chars * dup) AS BIGINT) AS dup_chars
      FROM tagged
    )
    SELECT n_docs, dup_docs,
           all_chars * 1000 // n_docs AS mean_len_all_milli,
           CASE WHEN dup_docs > 0 THEN dup_chars * 1000 // dup_docs END
             AS mean_len_dup_milli,
           CASE WHEN dup_docs > 0 THEN (dup_chars * 1000 // dup_docs)
             * 1000000 // (all_chars * 1000 // n_docs) END
             AS dup_len_ratio_ppm
    FROM agg
    """,
)


# ---- tokenizer compression (chars per token) ---------------------------------------
# The tokenizer-health read per source: characters per whitespace
# token, milli-floored — a source whose ratio drifts high is
# concatenating words (or shipping non-text), one drifting low is
# fragmenting.  Exact integer sums; one small source agg.


def q_doc_chars_per_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    per = docs.select(
        "source",
        F.col("n_chars").cast("bigint").alias("chars"),
        F.size(T.tokens("text")).cast("bigint").alias("toks"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("chars").cast("bigint").alias("total_chars"),
            F.sum("toks").cast("bigint").alias("total_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.expr("total_chars * 1000 div total_tokens").alias(
                "chars_per_token_milli"
            ),
        )
        .orderBy("source")
    )


register(
    "doc_chars_per_token",
    q_doc_chars_per_token,
    f"""
    WITH per AS (
      SELECT source, CAST(n_chars AS BIGINT) AS chars,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS toks
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(chars) AS BIGINT) * 1000 // CAST(SUM(toks) AS BIGINT)
             AS chars_per_token_milli
    FROM per GROUP BY 1 ORDER BY 1
    """,
)


# ---- cross-language near-dup audit --------------------------------------------------
# Do the MinHash-LSH candidates cross language boundaries?  Genuine
# near-dups almost never do (translations share no 3-shingles), so a
# high cross-language share means the banding is hashing structure,
# not content — a false-positive audit on the certified pair table.
# Reuses minhash_lsh_pairs verbatim; two |docs|-row lang-map joins;
# 1-row report.


def q_doc_cross_lang_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
    lang = docs.select("doc_id", "lang")
    tagged = pairs.join(
        lang.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("la")),
        "doc_a",
    ).join(
        lang.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lb")),
        "doc_b",
    )
    return tagged.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum((F.col("la") != F.col("lb")).cast("bigint"))
        .cast("bigint")
        .alias("cross_lang_pairs"),
    ).select(
        "n_pairs",
        "cross_lang_pairs",
        F.expr(
            "CASE WHEN n_pairs > 0"
            " THEN cross_lang_pairs * 1000000 div n_pairs END"
        ).alias("cross_lang_ppm"),
    )


register(
    "doc_cross_lang_dups",
    q_doc_cross_lang_dups,
    f"""
    WITH pairs AS ({_minhash_sql()}),
    lang AS (SELECT doc_id, lang FROM documents)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN a.lang <> b.lang THEN 1 ELSE 0 END) AS BIGINT)
             AS cross_lang_pairs,
           CASE WHEN COUNT(*) > 0 THEN
             CAST(SUM(CASE WHEN a.lang <> b.lang THEN 1 ELSE 0 END) AS BIGINT)
               * 1000000 // COUNT(*) END AS cross_lang_ppm
    FROM pairs
    JOIN lang a ON pairs.doc_a = a.doc_id
    JOIN lang b ON pairs.doc_b = b.doc_id
    """,
)


# ---- prefix template mining ---------------------------------------------------------
# The cheapest boilerplate detector: group documents by their first
# 32 normalized characters and surface the biggest clusters — shared
# prefixes are template headers / scraper banners that near-dup
# pipelines then confirm.  One prefix-key shuffle; top-10
# TakeOrdered; only clusters with >= 2 docs qualify.

_PREFIX_LEN = 32
_PREFIX_TOPK = 10


def q_doc_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pre = docs.select(
        F.substring(T.normalized_text("text"), 1, _PREFIX_LEN).alias("prefix")
    )
    total = pre.agg(F.count("*").cast("bigint").alias("n_docs"))
    groups = (
        pre.groupBy("prefix")
        .agg(F.count("*").cast("bigint").alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )
    return (
        groups.crossJoin(F.broadcast(total))
        .select(
            "prefix",
            "n_members",
            F.expr("n_members * 1000000 div n_docs").alias("share_ppm"),
        )
        .orderBy(F.col("n_members").desc(), F.col("prefix").asc())
        .limit(_PREFIX_TOPK)
    )


register(
    "doc_prefix_clusters",
    q_doc_prefix_clusters,
    f"""
    WITH pre AS (
      SELECT substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                    1, {_PREFIX_LEN}) AS prefix
      FROM documents
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM pre),
    groups AS (
      SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM pre GROUP BY 1 HAVING COUNT(*) >= 2
    )
    SELECT prefix, n_members,
           n_members * 1000000 // n_docs AS share_ppm
    FROM groups CROSS JOIN total
    ORDER BY n_members DESC, prefix ASC
    LIMIT {_PREFIX_TOPK}
    """,
)


# ---- dedup idempotence audit ---------------------------------------------------------
# The property audit a curation pipeline runs after changing ANY
# dedup code: applying exact dedup to its own survivors must remove
# nothing.  Both passes run for real (fingerprint -> keep min doc_id
# per group -> re-fingerprint survivors); the oracle recomputes the
# same two passes, so a canonicalization bug (unstable tie-break,
# fingerprint drift between passes) fails the driver gate.


def q_doc_dedup_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", T.fingerprint("text").alias("fp"))
    survivors = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    pass2 = survivors.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    n0 = fp.agg(F.count("*").cast("bigint").alias("n_docs"))
    n1 = survivors.agg(F.count("*").cast("bigint").alias("n_after_1"))
    n2 = pass2.agg(F.count("*").cast("bigint").alias("n_after_2"))
    return (
        n0.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "n_docs",
            "n_after_1",
            "n_after_2",
            F.expr("n_after_1 = n_after_2").alias("idempotent"),
        )
    )


register(
    "doc_dedup_idempotence",
    q_doc_dedup_idempotence,
    """
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    survivors AS (SELECT fp, MIN(doc_id) AS doc_id FROM fp GROUP BY 1),
    pass2 AS (SELECT fp, MIN(doc_id) AS doc_id FROM survivors GROUP BY 1)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM survivors) AS n_after_1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pass2) AS n_after_2,
           (SELECT COUNT(*) FROM survivors) = (SELECT COUNT(*) FROM pass2)
             AS idempotent
    """,
)


# ---- hapax share (vocabulary health) ---------------------------------------------------
# The corpus-health read beside the Zipf check: what share of each
# source's vocabulary occurs exactly once?  A healthy natural corpus
# runs 40-60% hapax legomena; far less means templated text, far
# more means noise/OCR junk.  One (source, term) agg with map-side
# partials; |sources| output rows.


def q_doc_hapax_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    terms = docs.select(
        "source", F.explode_outer(T.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    vocab = terms.groupBy("source", "term").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return (
        vocab.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("vocab_size"),
            F.sum((F.col("c") == 1).cast("bigint")).cast("bigint").alias("hapax"),
        )
        .select(
            "source",
            "vocab_size",
            "hapax",
            F.expr("hapax * 1000000 div vocab_size").alias("hapax_ppm"),
        )
        .orderBy("source")
    )


register(
    "doc_hapax_share",
    q_doc_hapax_share,
    f"""
    WITH terms AS (
      SELECT source, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    vocab AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM terms WHERE term <> '' GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // COUNT(*) AS hapax_ppm
    FROM vocab GROUP BY 1 ORDER BY 1
    """,
)


# ---- dedup storage savings -------------------------------------------------------------
# The capacity read on exact dedup: how many characters (and docs)
# does keep-one-per-fingerprint actually save?  Savings count every
# group member beyond the canonical min-doc_id survivor; exact
# integer sums; 1-row report.


def q_doc_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        T.fingerprint("text").alias("fp"),
    )
    w = Window.partitionBy("fp")
    tagged = fp.withColumn(
        "keep", (F.col("doc_id") == F.min("doc_id").over(w)).cast("int")
    )
    return tagged.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.expr("CAST(keep = 0 AS BIGINT)")).cast("bigint").alias(
            "docs_removed"
        ),
        F.sum(F.when(F.col("keep") == 0, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_removed"),
    ).select(
        "n_docs",
        "docs_removed",
        "total_chars",
        "chars_removed",
        F.expr("chars_removed * 1000000 div total_chars").alias(
            "savings_ppm"
        ),
    )


register(
    "doc_dedup_savings",
    q_doc_dedup_savings,
    """
    WITH fp AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    tagged AS (
      SELECT n_chars,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp)
                  THEN 1 ELSE 0 END AS keep
      FROM fp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_removed,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN keep = 0 THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_removed,
           CAST(SUM(CASE WHEN keep = 0 THEN n_chars ELSE 0 END) AS BIGINT)
             * 1000000 // CAST(SUM(n_chars) AS BIGINT) AS savings_ppm
    FROM tagged
    """,
)


# ---- source vocabulary overlap ----------------------------------------------------
# Which feeds write alike?  Jaccard similarity of the top-100 term
# sets per unordered source pair — the vocabulary-level sibling of
# doc_source_pair_dups (which needs actual near-dup documents; this
# detects stylistic/domain overlap even without shared docs).  Exact
# integers: per-source top-100 by (count desc, term asc) via a
# per-source window over the (source, term) agg, then a posting-style
# term self-join bounded by |sources|^2 pairs.

_VOCAB_TOPK = 100


def q_doc_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    terms = docs.select(
        "source", F.explode_outer(T.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    counts = terms.groupBy("source", "term").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("term").asc()
    )
    top = (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _VOCAB_TOPK)
        .select("source", "term")
    )
    pairs = (
        top.alias("a")
        .join(top.alias("b"), "term")
        .filter(F.expr("a.source < b.source"))
        .groupBy(
            F.expr("a.source").alias("source_a"),
            F.expr("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    return pairs.select(
        "source_a",
        "source_b",
        "shared",
        F.expr(f"shared * 1000000 div ({2 * _VOCAB_TOPK} - shared)").alias(
            "jaccard_ppm"
        ),
    ).orderBy("source_a", "source_b")


register(
    "doc_source_vocab_overlap",
    q_doc_source_vocab_overlap,
    f"""
    WITH terms AS (
      SELECT source, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    counts AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM terms WHERE term <> '' GROUP BY 1, 2
    ),
    top AS (
      SELECT source, term FROM (
        SELECT source, term,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, term ASC) AS rnk
        FROM counts
      ) WHERE rnk <= {_VOCAB_TOPK}
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared,
           CAST(COUNT(*) AS BIGINT) * 1000000
             // ({2 * _VOCAB_TOPK} - COUNT(*)) AS jaccard_ppm
    FROM top a JOIN top b ON a.term = b.term AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)


# ---- mixed-language (half-foreign) screen ------------------------------------------
# The code-switching / concatenation-bug gate doc_langid can't see:
# a document whose DECLARED language's marker words all sit in one
# half of the text is likely two documents glued together.  Each
# half's marker hits use the same exact array-intersect the langid
# family certifies (the character midpoint may split one word — an
# accepted heuristic, identical in both engines); flagged = one half
# silent (0 hits) while the other is clearly in-language (>= 2).
# Per-source report.


def q_doc_mixed_lang_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    halves = docs.select(
        "source",
        "lang",
        F.expr("substr(text, 1, n_chars div 2)").alias("left_t"),
        F.expr("substr(text, n_chars div 2 + 1)").alias("right_t"),
    )
    hl = None
    hr = None
    for lang in T.LANG_MARKERS:
        l_hits = T.marker_hits("left_t", lang)
        r_hits = T.marker_hits("right_t", lang)
        hl = (
            F.when(F.col("lang") == lang, l_hits)
            if hl is None
            else hl.when(F.col("lang") == lang, l_hits)
        )
        hr = (
            F.when(F.col("lang") == lang, r_hits)
            if hr is None
            else hr.when(F.col("lang") == lang, r_hits)
        )
    scored = halves.select(
        "source",
        F.coalesce(hl, F.lit(0)).alias("hits_left"),
        F.coalesce(hr, F.lit(0)).alias("hits_right"),
    ).withColumn(
        "flagged",
        (
            ((F.col("hits_left") == 0) & (F.col("hits_right") >= 2))
            | ((F.col("hits_right") == 0) & (F.col("hits_left") >= 2))
        ).cast("int"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("flagged").cast("bigint").alias("flagged"),
        )
        .select(
            "source",
            "n_docs",
            "flagged",
            F.expr("flagged * 1000000 div n_docs").alias("flagged_ppm"),
        )
        .orderBy("source")
    )


def _mixed_lang_sql() -> str:
    toks = lambda col: f"string_split({col}, ' ')"  # noqa: E731
    cases_l, cases_r = [], []
    for lang, markers in T.LANG_MARKERS.items():
        arr = "[" + ",".join(f"'{w}'" for w in markers) + "]"
        cases_l.append(
            f"WHEN lang = '{lang}'"
            f" THEN len(list_intersect({toks('left_t')}, {arr}))"
        )
        cases_r.append(
            f"WHEN lang = '{lang}'"
            f" THEN len(list_intersect({toks('right_t')}, {arr}))"
        )
    return f"""
    WITH halves AS (
      SELECT source, lang,
             substr(text, 1, n_chars // 2) AS left_t,
             substr(text, n_chars // 2 + 1) AS right_t
      FROM documents
    ),
    scored AS (
      SELECT source,
             COALESCE(CASE {' '.join(cases_l)} END, 0) AS hits_left,
             COALESCE(CASE {' '.join(cases_r)} END, 0) AS hits_right
      FROM halves
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN (hits_left = 0 AND hits_right >= 2)
                           OR (hits_right = 0 AND hits_left >= 2)
                         THEN 1 ELSE 0 END) AS BIGINT) AS flagged,
           CAST(SUM(CASE WHEN (hits_left = 0 AND hits_right >= 2)
                           OR (hits_right = 0 AND hits_left >= 2)
                         THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000 // COUNT(*) AS flagged_ppm
    FROM scored GROUP BY 1 ORDER BY 1
    """


register("doc_mixed_lang_screen", q_doc_mixed_lang_screen, _mixed_lang_sql())


# ---- per-language length profile ---------------------------------------------------
# The curation read behind per-language token budgets: exact
# min/lower-median/max document length (chars) per language via the
# count-bucket order-statistic trick — no percentile interpolation,
# no per-language sort.  One (lang, n_chars) agg; |langs| rows.


def q_doc_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang", F.col("n_chars").cast("bigint").alias("len")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy("len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("lang"))
    )
    med = cum.filter(F.expr("cum >= (n + 1) div 2")).groupBy("lang").agg(
        F.min("len").alias("median_chars"),
        F.max("n").cast("bigint").alias("n_docs"),
    )
    ext = per.groupBy("lang").agg(
        F.min("len").alias("min_chars"), F.max("len").alias("max_chars")
    )
    return (
        med.join(ext, "lang")
        .select("lang", "n_docs", "min_chars", "median_chars", "max_chars")
        .orderBy("lang")
    )


register(
    "doc_length_profile",
    q_doc_length_profile,
    """
    WITH per AS (
      SELECT lang, CAST(n_chars AS BIGINT) AS len,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    cum AS (
      SELECT lang, len, c,
             CAST(SUM(c) OVER (PARTITION BY lang ORDER BY len
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum,
             CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM per
    ),
    med AS (
      SELECT lang, MIN(len) AS median_chars, CAST(MAX(n) AS BIGINT) AS n_docs
      FROM cum WHERE cum >= (n + 1) // 2 GROUP BY 1
    ),
    ext AS (
      SELECT lang, MIN(len) AS min_chars, MAX(len) AS max_chars
      FROM per GROUP BY 1
    )
    SELECT lang, n_docs, min_chars, median_chars, max_chars
    FROM med JOIN ext USING (lang)
    ORDER BY lang
    """,
)


# ---- term burstiness ---------------------------------------------------------------
# Church & Gale's clumping read: content words CLUMP (a doc that
# mentions a term once mentions it again), function words spread
# evenly.  Variance-to-mean ratio of per-document counts (including
# zeros — the dense doc grid, via total-doc count) for the corpus's
# top-20 terms, from exact integer moments; VMR ~ 1 is Poisson
# (non-bursty), above is clumped.  One (term) agg + broadcast doc
# count; 20 output rows.

_BURST_TOPK = 20


def q_doc_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n_docs = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    per_doc = (
        docs.select(
            "doc_id", F.explode_outer(T.tokens("text")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    mom = per_doc.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.expr("c * c")).cast("bigint").alias("ss"),
    )
    # zero cells contribute 0 to s and ss; mean/var use the FULL grid
    vmr = (
        "((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / CAST(n_docs AS DOUBLE)) / CAST(n_docs AS DOUBLE))"
        " / (CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    )
    return (
        mom.crossJoin(F.broadcast(n_docs))
        .orderBy(F.col("s").desc(), F.col("term").asc())
        .limit(_BURST_TOPK)
        .select(
            "term",
            "df",
            "s",
            F.expr(f"CAST(floor(({vmr}) * 1000.0) AS BIGINT)").alias(
                "vmr_milli"
            ),
        )
        .orderBy(F.col("s").desc(), F.col("term").asc())
    )


register(
    "doc_term_burstiness",
    q_doc_term_burstiness,
    f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    per_doc AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
      ) WHERE term <> '' GROUP BY 1, 2
    ),
    mom AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS ss
      FROM per_doc GROUP BY 1
    )
    SELECT term, df, s,
           CAST(floor((((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                           / CAST(n_docs AS DOUBLE)) / CAST(n_docs AS DOUBLE))
                       / (CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE)))
                      * 1000.0) AS BIGINT) AS vmr_milli
    FROM mom CROSS JOIN n
    ORDER BY s DESC, term ASC
    LIMIT {_BURST_TOPK}
    """,
)


# ---- vocabulary coverage curve ----------------------------------------------------
# Corpus planning: adding sources in a fixed (alphabetical) order,
# how fast does vocabulary coverage saturate?  Each term is credited
# to its alphabetically-FIRST source; the running total over the
# |sources| spine is the coverage curve that says which feeds add
# words and which only add volume.  One (term -> min source) agg +
# a |sources|-row cumulative window.


def q_doc_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    terms = docs.select(
        "source", F.explode_outer(T.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    first_src = terms.groupBy("term").agg(F.min("source").alias("source"))
    new_per_src = first_src.groupBy("source").agg(
        F.count("*").cast("bigint").alias("new_terms")
    )
    all_src = terms.select("source").distinct()
    per = all_src.join(new_per_src, "source", "left").select(
        "source",
        F.coalesce("new_terms", F.lit(0).cast("bigint")).alias("new_terms"),
    )
    w = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, 0)
    total = first_src.agg(F.count("*").cast("bigint").alias("vocab"))
    return (
        per.withColumn("cum_vocab", F.sum("new_terms").over(w).cast("bigint"))
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "new_terms",
            "cum_vocab",
            F.expr("cum_vocab * 1000000 div vocab").alias("coverage_ppm"),
        )
        .orderBy("source")
    )


register(
    "doc_vocab_coverage_curve",
    q_doc_vocab_coverage_curve,
    f"""
    WITH terms AS (
      SELECT source, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    clean AS (SELECT source, term FROM terms WHERE term <> ''),
    first_src AS (
      SELECT term, MIN(source) AS source FROM clean GROUP BY 1
    ),
    new_per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS new_terms
      FROM first_src GROUP BY 1
    ),
    per AS (
      SELECT s.source, COALESCE(new_terms, CAST(0 AS BIGINT)) AS new_terms
      FROM (SELECT DISTINCT source FROM clean) s
      LEFT JOIN new_per USING (source)
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab FROM first_src)
    SELECT source, new_terms,
           CAST(SUM(new_terms) OVER (ORDER BY source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_vocab,
           CAST(SUM(new_terms) OVER (ORDER BY source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             * 1000000 // vocab AS coverage_ppm
    FROM per CROSS JOIN total
    ORDER BY source
    """,
)


# ---- character-distribution Gini diversity -----------------------------------
# The log-free twin of character entropy: Gini impurity
# 1 - sum(p_c^2) over the 26-letter distribution of each document.
# Degenerate generators (one stuck key, base64 blobs, repeated
# boilerplate) collapse toward 0; natural prose sits high.  Entropy
# itself needs ln(), which is NOT correctly rounded across engines —
# the Gini form is exact integer arithmetic end to end (integer
# counts, ppm via integer division), so the row hashes match
# bit-for-bit.  Zero-shuffle column expressions on both sides.
#
# Spark side is a SINGLE pass over each document (r6 verdict ask #4;
# the r6 shape re-scanned every document 26 times via
# length - length(replace(lt, chr(i), ''))): ONE compiled-regex pass
# strips everything but a-z (interpreted HOF lambdas were measured
# 2x slower than the JVM regex for the same filtering), the
# letters-only string splits and sorts, then ONE fold over the
# sorted runs accumulates sum(run^2) and the distinct-letter count
# in integer arithmetic.  The DuckDB oracle keeps the 26-replace
# form — same exact output, so the certified hash is unchanged
# (equivalence re-checked at sf0.01/sf0.1/sf1: zero differing rows;
# sf1 14.96 s (r6) -> 4.4 s).

_GINI_LO = 97
_GINI_HI = 122  # inclusive: 'a'..'z'


def q_doc_char_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # letters materializes in its own projection (single regex pass)
    # and letterless docs filter out BEFORE the split: split('', '')
    # is [''] (size 1), which would otherwise smuggle a bogus
    # n_letters=1 row past the n_letters > 0 gate.
    codes = "array_sort(split(letters, ''))"
    # Run-length fold over the sorted chars: (prev, run, ss, d);
    # the finish lambda closes the last run.  prev starts '' — no
    # letter equals it, so the first element always opens a run.
    fold = (
        "aggregate(codes,"
        " named_struct('prev', '', 'run', CAST(0 AS BIGINT),"
        "  'ss', CAST(0 AS BIGINT), 'd', CAST(0 AS BIGINT)),"
        " (acc, x) -> IF(x = acc.prev,"
        "  named_struct('prev', acc.prev, 'run', acc.run + 1L,"
        "   'ss', acc.ss, 'd', acc.d),"
        "  named_struct('prev', x, 'run', CAST(1 AS BIGINT),"
        "   'ss', acc.ss + acc.run * acc.run,"
        "   'd', acc.d + IF(acc.run > 0L, 1L, 0L))),"
        " acc -> named_struct("
        "  'ss', acc.ss + acc.run * acc.run,"
        "  'd', acc.d + IF(acc.run > 0L, 1L, 0L)))"
    )
    return (
        docs.select(
            "doc_id",
            F.expr("regexp_replace(lower(text), '[^a-z]', '')").alias(
                "letters"
            ),
        )
        .filter(F.length("letters") > 0)
        .select("doc_id", F.expr(codes).alias("codes"))
        .select(
            "doc_id",
            F.expr("CAST(size(codes) AS BIGINT)").alias("n_letters"),
            F.expr(fold).alias("st"),
        )
        .select(
            "doc_id",
            "n_letters",
            F.col("st.d").alias("distinct_letters"),
            F.expr(
                "1000000 - st.ss * 1000000 div (n_letters * n_letters)"
            ).alias("gini_ppm"),
        )
        .orderBy("doc_id")
    )


register(
    "doc_char_gini",
    q_doc_char_gini,
    f"""
    WITH base AS (
      SELECT doc_id, lower(text) AS lt FROM documents
    ),
    cnt AS (
      SELECT doc_id,
             list_transform(range({_GINI_LO}, {_GINI_HI} + 1),
               i -> CAST(length(lt) - length(replace(lt, chr(CAST(i AS INT)), ''))
                    AS BIGINT)) AS cnts
      FROM base
    ),
    stats AS (
      SELECT doc_id,
             CAST(list_sum(cnts) AS BIGINT) AS n_letters,
             CAST(list_sum(list_transform(cnts, x -> x * x)) AS BIGINT) AS sum_sq,
             CAST(len(list_filter(cnts, x -> x > 0)) AS BIGINT)
               AS distinct_letters
      FROM cnt
    )
    SELECT doc_id, n_letters, distinct_letters,
           1000000 - sum_sq * 1000000 // (n_letters * n_letters) AS gini_ppm
    FROM stats WHERE n_letters > 0 ORDER BY doc_id
    """,
)


# ---- keep-best dedup survivor selection --------------------------------------
# Batch 56.  The decision step a real dedup pipeline runs AFTER
# clustering: inside every near-dup cluster (the certified
# minhash-LSH -> connected-components chain of doc_dup_clusters),
# keep the member with the most tokens — the RefinedWeb/C4
# "keep-longest" rule — and report what the cluster sheds.  Token
# counts are exact integers (whitespace split, the _SQL_TOKS
# contract), ties break to the lowest doc_id.  Scale shape: the
# cluster map covers only pair-connected docs — small vs the corpus
# but PROPORTIONAL to it (dup rate x corpus), so the attach is a
# plain equi-join on node (AQE broadcasts it only when measured
# small); the per-cluster argmax is a WindowGroupLimit over
# cluster-sized groups.

def q_doc_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.operators.components import (
        connected_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS
    ).filter(F.col("est_jaccard") >= _CLUSTER_MIN_EST_J)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    toks = docs.select(
        F.col("doc_id").alias("node"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    # NO broadcast hint on cc: it has one row per pair-connected doc,
    # so its size scales with the corpus DUP RATE (20-30% on web
    # corpora = billions of rows at 100 TB) — a forced broadcast
    # bypasses AQE's size check and OOMs executors.  As a plain
    # equi-join, AQE broadcasts it when it is actually small and
    # falls back to one shuffle of two narrow 2-column projections
    # on `node` otherwise.
    members = toks.join(cc, "node")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_tokens"), F.asc("node")
    )
    return (
        members.withColumn("rnk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max(F.when(F.col("rnk") == 1, F.col("node")))
            .cast("bigint")
            .alias("survivor_id"),
            F.max(F.when(F.col("rnk") == 1, F.col("n_tokens")))
            .cast("bigint")
            .alias("survivor_tokens"),
            F.sum(
                F.when(F.col("rnk") != 1, F.col("n_tokens")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("tokens_dropped"),
        )
        .select(
            F.col("component").alias("cluster_id"),
            "n_docs",
            "survivor_id",
            "survivor_tokens",
            "tokens_dropped",
        )
        .orderBy("cluster_id")
    )


def _keep_best_sql() -> str:
    return f"""
    WITH RECURSIVE pairs AS (
      {_minhash_sql()}
    ),
    strong AS (
      SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= {_CLUSTER_MIN_EST_J}
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM strong
      UNION SELECT doc_b, doc_a FROM strong
    ),
    walk(n, m) AS (
      SELECT s, d FROM edges
      UNION
      SELECT w.n, e.d FROM walk w JOIN edges e ON w.m = e.s
    ),
    comp AS (
      SELECT n, least(n, MIN(m)) AS component FROM walk GROUP BY n
    ),
    toks AS (
      SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT comp.component, comp.n AS node, t.n_tokens,
             row_number() OVER (PARTITION BY comp.component
                                ORDER BY t.n_tokens DESC, comp.n ASC) AS rnk
      FROM comp JOIN toks t ON comp.n = t.doc_id
    )
    SELECT component AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(CASE WHEN rnk = 1 THEN node END) AS BIGINT)
             AS survivor_id,
           CAST(MAX(CASE WHEN rnk = 1 THEN n_tokens END) AS BIGINT)
             AS survivor_tokens,
           CAST(SUM(CASE WHEN rnk <> 1 THEN n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_dropped
    FROM ranked GROUP BY component ORDER BY cluster_id
    """


register("doc_keep_best_dedup", q_doc_keep_best_dedup, _keep_best_sql())


# ---- bigram-LM out-of-vocabulary quality score --------------------------------
# Batch 56.  The log-free surrogate of CCNet-style model-based
# quality filtering: train a count-based bigram "language model" on
# the deterministic train split (the lcg split every split-family
# query shares) and score each VALID-split document by the ppm of
# its bigram occurrences unseen in training — high OOV share flags
# boilerplate, code, or off-distribution text exactly where
# perplexity would, without ln()'s portability problem.  All
# integers: occurrence counts, ppm integer division.  Scale shape:
# the train vocabulary is one distinct on the bigram key; the probe
# is one equi-join keyed on bigram + one doc_id aggregate — three
# shuffles, no broadcast of corpus-sized state.

_LM_FLAG_PPM = 500_000  # flag docs with a majority of unseen bigrams


def q_doc_ngram_lm_hit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_price_tracker_with_etl_dashboard_spark.functions.sampling import (
        hash_split,
        lcg_bucket,
    )

    docs = hash_split(
        load_table(spark, sf_dir, "documents"), "doc_id", hasher=lcg_bucket
    )
    bigrams = (
        "CASE WHEN size(tk) >= 2 THEN"
        " transform(sequence(1, size(tk) - 1),"
        " i -> concat(tk[i - 1], ' ', tk[i]))"
        " ELSE array() END"
    )
    bg = (
        docs.select(
            "doc_id",
            "split",
            F.expr("filter(split(text, ' '), t -> t <> '')").alias("tk"),
        )
        .select("doc_id", "split", F.explode_outer(F.expr(bigrams)).alias("bg"))
    )
    train_vocab = (
        bg.filter(F.col("split") == "train").select("bg").distinct()
        .withColumn("__seen", F.lit(1))
    )
    valid = bg.filter(F.col("split") == "valid")
    return (
        valid.join(train_vocab, "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("CAST(bg IS NOT NULL AS BIGINT)"))
            .cast("bigint")
            .alias("n_bigrams"),
            F.sum(F.expr("CAST(bg IS NOT NULL AND __seen IS NULL AS BIGINT)"))
            .cast("bigint")
            .alias("n_oov"),
        )
        .filter(F.col("n_bigrams") > 0)
        .select(
            "doc_id",
            "n_bigrams",
            "n_oov",
            F.expr("n_oov * 1000000 div n_bigrams").alias("oov_ppm"),
            F.expr(f"n_oov * 1000000 div n_bigrams >= {_LM_FLAG_PPM}").alias(
                "flagged"
            ),
        )
        .orderBy("doc_id")
    )


register(
    "doc_ngram_lm_hit_rate",
    q_doc_ngram_lm_hit_rate,
    f"""
    WITH labeled AS (
      SELECT doc_id, text,
             CASE WHEN {sql_lcg_bucket('doc_id')} < 80 THEN 'train'
                  WHEN {sql_lcg_bucket('doc_id')} < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    ),
    toks AS (
      SELECT doc_id, split,
             list_filter({_SQL_TOKS}, t -> t <> '') AS tk
      FROM labeled
    ),
    bg AS (
      SELECT doc_id, split,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i + 1])) AS bg
      FROM toks
    ),
    train_vocab AS (
      SELECT DISTINCT bg FROM bg WHERE split = 'train'
    ),
    scored AS (
      SELECT v.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN t.bg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM bg v LEFT JOIN train_vocab t ON v.bg = t.bg
      WHERE v.split = 'valid'
      GROUP BY v.doc_id
    )
    SELECT doc_id, n_bigrams, n_oov,
           n_oov * 1000000 // n_bigrams AS oov_ppm,
           n_oov * 1000000 // n_bigrams >= {_LM_FLAG_PPM} AS flagged
    FROM scored WHERE n_bigrams > 0 ORDER BY doc_id
    """,
)


# ---- near-dup pair transitivity audit ------------------------------------------
# Batch 58.  Dedup observability the cluster-size histogram cannot
# give: how TRANSITIVE is the certified LSH pair set?  Every wedge
# a~m~z whose closing edge a~z is absent is a chaining hazard — the
# connected-components step will merge a and z anyway, and a LOW
# closure rate means clusters are unions of chains, not cliques
# (exactly when keep-one-per-cluster over-deletes).  One number
# decides whether the CC policy (doc_dup_clusters / keep_best) or a
# pairwise policy (doc_containment-style) fits the corpus.  The
# wedge stage enumerates pairs from each CENTER node's adjacency
# list after a deterministic per-node degree cap (neighbors ranked
# by a portable md5 hash of the edge, keep the first
# _WEDGE_DEG_CAP), so it is bounded by nodes x cap^2 — LINEAR in the
# pair graph even when one million-way boilerplate cluster makes raw
# sum(deg^2) cubic.  Nodes that lost neighbors to the cap are
# reported in n_capped_nodes (closure_ppm is then a deterministic
# wedge SAMPLE, which is all an audit needs).

_WEDGE_DEG_CAP = 16


def q_doc_dup_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # pairs feeds FOUR consumers (both mirror branches, the closure
    # probe, the pair count) — truncate the band join + distinct once
    # (r12, the hits._l1_normalize discipline)
    pairs = (
        D.minhash_lsh_pairs(docs, num_hashes=_NUM_HASHES, bands=_BANDS)
        .filter(F.col("est_jaccard") >= _CLUSTER_MIN_EST_J)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    # deterministic neighbor sample: rank each node's neighbors by
    # the portable edge hash (same expression in the DuckDB twin),
    # tie-broken by neighbor id
    edge_h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("u"), F.col("v"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    ranked = edges.withColumn("h", edge_h).withColumn(
        "rnk",
        F.row_number().over(Window.partitionBy("u").orderBy("h", "v")),
    )
    # three consumers in one action (both wedge arms + the cap
    # count); one scratch slot, so repeated calls don't stack
    # pair-graph copies
    ranked = scratch("doc_dup_transitivity", spark).cache(ranked)
    capped = ranked.filter(F.col("rnk") <= _WEDGE_DEG_CAP).select("u", "v")
    n_capped = ranked.filter(F.col("rnk") > _WEDGE_DEG_CAP).agg(
        F.count_distinct("u").cast("bigint").alias("n_capped_nodes")
    )
    # wedges x-m-z from the CENTER's capped adjacency: both arms are
    # degree-capped, so |wedges| <= nodes * cap^2
    wedges = (
        capped.alias("c1")
        .join(capped.alias("c2"), F.col("c1.u") == F.col("c2.u"))
        .filter(F.col("c1.v") < F.col("c2.v"))
        .select(F.col("c1.v").alias("x"), F.col("c2.v").alias("z"))
    )
    closed = wedges.join(
        pairs.select(
            F.col("doc_a").alias("x"), F.col("doc_b").alias("z")
        ).withColumn("__c", F.lit(1)),
        ["x", "z"],
        "left",
    )
    n_pairs = pairs.select(F.count("*").cast("bigint").alias("n_pairs"))
    return (
        closed.agg(
            F.count("*").cast("bigint").alias("n_wedges"),
            F.sum(F.expr("CAST(__c IS NOT NULL AS BIGINT)"))
            .cast("bigint")
            .alias("n_closed"),
        )
        .join(F.broadcast(n_pairs))
        .join(F.broadcast(n_capped))
        .select(
            "n_pairs",
            "n_wedges",
            "n_closed",
            F.expr(
                "CASE WHEN n_wedges > 0"
                " THEN n_closed * 1000000 div n_wedges END"
            ).alias("closure_ppm"),
            "n_capped_nodes",
        )
    )


register(
    "doc_dup_transitivity",
    q_doc_dup_transitivity,
    f"""
    WITH pairs AS (
      {_minhash_sql()}
    ),
    strong AS (
      SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= {_CLUSTER_MIN_EST_J}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM strong
      UNION ALL SELECT doc_b, doc_a FROM strong
    ),
    ranked AS (
      SELECT u, v,
             row_number() OVER (
               PARTITION BY u
               ORDER BY ('0x' || substr(md5(concat(u, '|', v)), 1, 8))::BIGINT,
                        v
             ) AS rnk
      FROM edges
    ),
    capped AS (SELECT u, v FROM ranked WHERE rnk <= {_WEDGE_DEG_CAP}),
    caps AS (
      SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_capped_nodes
      FROM ranked WHERE rnk > {_WEDGE_DEG_CAP}
    ),
    wedges AS (
      SELECT c1.v AS x, c2.v AS z
      FROM capped c1 JOIN capped c2 ON c1.u = c2.u
      WHERE c1.v < c2.v
    ),
    closed AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_wedges,
             CAST(SUM(CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_closed
      FROM wedges w
      LEFT JOIN strong s ON w.x = s.doc_a AND w.z = s.doc_b
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM strong)
    SELECT n_pairs, n_wedges, n_closed,
           CASE WHEN n_wedges > 0
                THEN n_closed * 1000000 // n_wedges END AS closure_ppm,
           n_capped_nodes
    FROM closed CROSS JOIN np CROSS JOIN caps
    """,
)


# ---- LSH band-bucket profile --------------------------------------------------
# Batch 59.  Index health for the banding layer every LSH query sits
# on: per band — bucket count, docs banded, the LARGEST bucket, the
# candidate-pair bill sum(n*(n-1)/2) the band would hand the join,
# and how many buckets the r8 MAX_BAND_BUCKET ceiling would skip.
# This is the observability twin of the ceiling in
# functions/dedup.py::minhash_lsh_pairs: max_bucket tells you how
# close the corpus sits to the guard (65 at sf1 vs 512), and
# candidate_pairs is the join-blowup pre-flight at the band grain
# (lineitem_join_blowup's shape applied to the dedup pipeline).
# Scale: banding is the certified zero-shuffle map; bucket counting
# is one shuffle on the band key (the join's own partitioning);
# output is |bands| rows.

def q_doc_lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    banded = D._banded_signatures(
        docs, "doc_id", "text", 3, _NUM_HASHES, _BANDS
    )
    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        buckets.groupBy(F.col("band_idx").cast("bigint").alias("band_idx"))
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("n").cast("bigint").alias("n_docs"),
            F.max("n").cast("bigint").alias("max_bucket"),
            F.sum(F.expr("n * (n - 1) div 2")).cast("bigint").alias(
                "candidate_pairs"
            ),
            F.sum(
                F.expr(f"CAST(n > {D.MAX_BAND_BUCKET} AS BIGINT)")
            ).cast("bigint").alias("n_over_ceiling"),
        )
        .orderBy("band_idx")
    )


register(
    "doc_lsh_bucket_profile",
    q_doc_lsh_bucket_profile,
    f"""
    WITH {_banded_cte_sql()},
    buckets AS (
      SELECT band_idx, band_key, CAST(COUNT(*) AS BIGINT) AS n
      FROM banded GROUP BY band_idx, band_key
    )
    SELECT CAST(band_idx AS BIGINT) AS band_idx,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(SUM(CASE WHEN n > {D.MAX_BAND_BUCKET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_over_ceiling
    FROM buckets GROUP BY band_idx ORDER BY band_idx
    """,
)


# ---- IDF-weighted Jaccard near-dup rescoring (batch 65) ---------------------
# Plain Jaccard counts every shared shingle equally, so boilerplate
# ("all rights reserved...") inflates similarity between unrelated
# docs while a shared RARE passage — the actual near-dup signal —
# is diluted.  Production dedup weighs each shingle by rarity
# (IDF) and scores sum_intersection(w) / sum_union(w).  Weights are
# INTEGER idf surrogates, w = (1000 * n_docs_in_lang) div df — the
# monotone-in-idf rational form, so every score is exact BIGINT
# arithmetic on the ppm grid (no ln(), whose last-ulp behavior libm
# does not pin cross-engine).
#
# Scale shape: the same inverted-index posting join as
# doc_ngram_jaccard (shuffle on (lang, shingle), never all-pairs)
# with the same stop-shingle df cap (<= _NGRAM_MAX_DF) bounding any
# single posting key at C(100, 2) pairs; df/doc-total aggregates are
# one extra shuffle each over the postings; the pair table then
# attaches two O(1) totals per row.  Weight magnitudes: w <= 1000 *
# n_docs, per-doc totals <= shingles/doc * w, and the ppm numerator
# 1e6 * inter_w stays far inside BIGINT at any certified SF.

_IDF_WJ_MIN_PPM = 100_000  # 0.1 on the ppm grid, the ngram_jaccard bar
_IDF_W_SCALE = 1000


def q_doc_idf_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", T.tokens(F.col("text")).alias("__t"))
    post = toks.select(
        "lang",
        "doc_id",
        F.explode(D.shingles_from_tokens(F.col("__t"))).alias("shingle"),
    )
    dfreq = post.groupBy("lang", "shingle").agg(
        F.count("*").cast("bigint").alias("df")
    )
    ndocs = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    kept = (
        post.join(dfreq.filter(F.col("df") <= _NGRAM_MAX_DF), ["lang", "shingle"])
        .join(F.broadcast(ndocs), "lang")
        .select(
            "lang",
            "doc_id",
            "shingle",
            F.expr(f"({_IDF_W_SCALE} * n_docs) div df").alias("w"),
        )
        # three consumers (per-doc totals + both posting-join arms):
        # truncate the tokenize->shingle->df-join pipeline once
        # instead of re-running it per branch (r12 optimization)
        .localCheckpoint(eager=False)
    )
    tot = kept.groupBy("doc_id").agg(F.sum("w").cast("bigint").alias("tw"))
    a = kept.select(
        "lang", "shingle", F.col("doc_id").alias("doc_a"), "w"
    )
    b = kept.select("lang", "shingle", F.col("doc_id").alias("doc_b"))
    inter = (
        a.join(b, ["lang", "shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").cast("bigint").alias("inter_w"))
    )
    ta = tot.select(F.col("doc_id").alias("doc_a"), F.col("tw").alias("__ta"))
    tb = tot.select(F.col("doc_id").alias("doc_b"), F.col("tw").alias("__tb"))
    wj = F.expr("(1000000 * inter_w) div (__ta + __tb - inter_w)")
    return (
        inter.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a", "doc_b", "inter_w",
            wj.cast("bigint").alias("wj_ppm"),
        )
        .filter(F.col("wj_ppm") >= _IDF_WJ_MIN_PPM)
    )


register(
    "doc_idf_weighted_jaccard",
    q_doc_idf_weighted_jaccard,
    f"""
    WITH sh AS (
      SELECT doc_id, lang, {_SQL_SHINGLES} AS s FROM documents
    ),
    post AS (
      SELECT lang, doc_id, unnest(s) AS shingle FROM sh
    ),
    dfreq AS (
      SELECT lang, shingle, CAST(COUNT(*) AS BIGINT) AS df
      FROM post GROUP BY lang, shingle
    ),
    nd AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    kept AS (
      SELECT p.lang, p.doc_id, p.shingle,
             ({_IDF_W_SCALE} * n.n_docs) // d.df AS w
      FROM post p
      JOIN dfreq d ON d.lang = p.lang AND d.shingle = p.shingle
      JOIN nd n ON n.lang = p.lang
      WHERE d.df <= {_NGRAM_MAX_DF}
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(w) AS BIGINT) AS tw FROM kept GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.w) AS BIGINT) AS inter_w
      FROM kept a
      JOIN kept b ON a.lang = b.lang AND a.shingle = b.shingle
                 AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter_w, wj_ppm FROM (
      SELECT i.doc_a, i.doc_b, i.inter_w,
             CAST((1000000 * i.inter_w) // (ta.tw + tb.tw - i.inter_w)
                  AS BIGINT) AS wj_ppm
      FROM inter i
      JOIN tot ta ON ta.doc_id = i.doc_a
      JOIN tot tb ON tb.doc_id = i.doc_b
    )
    WHERE wj_ppm >= {_IDF_WJ_MIN_PPM}
    """,
)
