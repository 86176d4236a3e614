"""Round-3 extension set 2: substring-granular fingerprinting,
product-analytics cohorts, serving-shaped similarity, and snapshot
diffing — each a standard large-pipeline pattern, oracle-checked.

Scale notes per operator; windows are always key-partitioned and the
only broadcasts are dimension- or 1-row-sized.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from collective_als_spark.functions import text as TX
from collective_als_spark.registry import register
from collective_als_spark.sources.testdata import load_table

_SHINGLES_SQL = (
    "list_transform(range(1, len(string_split(text,' ')) - 1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] "
    "|| ' ' || string_split(text,' ')[i+2])"
)

_WINNOW_W = 4


@register(
    "winnowing_fingerprints",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               generate_subscripts(sg.g, 1) AS pos,
               ('0x' || substring(md5(unnest(sg.g)), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, {_SHINGLES_SQL} AS g FROM documents) sg
    ),
    sized AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    wm AS (
        SELECT sh.doc_id, sh.pos,
               min(h) OVER (PARTITION BY sh.doc_id ORDER BY sh.pos
                            ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
                   AS fp,
               sized.n
        FROM sh JOIN sized USING (doc_id)
    )
    SELECT DISTINCT doc_id, fp
    FROM wm WHERE pos <= n - {_WINNOW_W} + 1
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., the MOSS
    algorithm): hash every 3-word shingle, slide a window of
    {w} consecutive hashes, keep each window's minimum — the selected
    distinct hashes are a position-robust fingerprint set that
    guarantees detection of shared substrings longer than w+k-1 tokens
    with far fewer stored hashes than full shingling (this variant
    selects per-window minima; classic winnowing's rightmost-tie rule
    only matters for duplicate hash values).

    Scale: MAP-ONLY — the shingle-hash array stays a per-document
    array column, the sliding min is ``array_min(slice(...))`` over a
    generated index sequence, and within-doc ``array_distinct`` IS the
    global distinct (doc_id is a per-row constant), so the whole
    fingerprint computation runs with ZERO shuffles (r04 rewrite; the
    r03 plan paid a per-doc count window + a sliding-min window + a
    global distinct exchange for the same output). Fingerprint density
    is ~2/(w+1) of shingle count, so the stored index is a fraction of
    MinHash's per-doc signature cost at substring granularity.
    """
    from collective_als_spark.sources.testdata import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    harr = F.transform(
        TX.shingles(F.col("text"), 3), lambda s: TX.word_hash(s)
    )
    # n shingles >= w  <=>  n words >= w + shingle_n - 1; filtering on
    # the word count keeps the md5 hashing out of the Filter operator
    # (no cross-operator CSE for the big lambda expression)
    per_doc = (
        docs.filter(F.size(TX.words(F.col("text"))) >= _WINNOW_W + 2)
        .select("doc_id", harr.alias("harr"))
        .select("doc_id", "harr", F.size("harr").alias("n"))
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - _WINNOW_W + 1),
            lambda i: F.array_min(F.slice(F.col("harr"), i, _WINNOW_W)),
        )
    )
    return per_doc.select("doc_id", F.explode(fps).alias("fp"))


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT e.user_id, f.cohort_week,
               CAST(date_diff('day', f.cohort_week,
                              CAST(date_trunc('week', e.ts) AS DATE)) / 7
                    AS INTEGER) AS week_offset
        FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted distinct in each subsequent week offset — the standard
    product-analytics triangle. Two key-partitioned shuffles (per-user
    min, then cohort×offset count-distinct); the user→cohort frame is
    user-dimension-sized and broadcastable."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.join(F.broadcast(firsts), "user_id").select(
        "user_id",
        "cohort_week",
        (
            F.datediff(F.date_trunc("week", "ts").cast("date"), F.col("cohort_week"))
            / 7
        )
        .cast("int")
        .alias("week_offset"),
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").cast("bigint").alias("active_users")
    )


@register(
    "equidepth_histogram",
    oracle="""
    WITH t AS (
        SELECT event_type, value,
               ntile(10) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS decile
        FROM events
    )
    SELECT event_type, CAST(decile AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM t GROUP BY event_type, decile
    """,
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram per event type via ntile
    — the equal-population companion to ``equiwidth_histogram``; bucket
    bounds double as a quantile sketch. One type-keyed window + one
    aggregate; tie order pinned by event_id for cross-engine
    determinism."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", F.col("decile").cast("int").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@register(
    "also_bought_topk",
    oracle="""
    WITH ui AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (SELECT u, count(*) AS n_items FROM ui GROUP BY u),
    ui2 AS (
        SELECT ui.u, ui.i FROM ui JOIN deg ON deg.u = ui.u
        WHERE deg.n_items <= 200
    ),
    icnt AS (SELECT i, count(*) AS n_i FROM ui2 GROUP BY i),
    pairs AS (
        SELECT a.i AS part_i, b.i AS part_j, count(*) AS n_ij
        FROM ui2 a JOIN ui2 b ON a.u = b.u AND a.i < b.i
        GROUP BY a.i, b.i
        HAVING count(*) >= 3
    ),
    scored AS (
        SELECT p.part_i, p.part_j,
               round(p.n_ij / sqrt(ci.n_i * cj.n_i), 6) AS cosine
        FROM pairs p
        JOIN icnt ci ON ci.i = p.part_i
        JOIN icnt cj ON cj.i = p.part_j
    ),
    directed AS (
        SELECT part_i AS item, part_j AS rec, cosine FROM scored
        UNION ALL
        SELECT part_j, part_i, cosine FROM scored
    ),
    ranked AS (
        SELECT item, rec, cosine,
               row_number() OVER (PARTITION BY item
                                  ORDER BY cosine DESC, rec) AS rk
        FROM directed
    )
    SELECT item, rec, cosine, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def also_bought_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Customers also bought": top-3 most-similar items per item from
    the co-occurrence cosine — the serving-shaped projection of
    `item_item_cosine` (directed both ways, item-keyed top-k window
    with WindowGroupLimit pushdown)."""
    from collective_als_spark.queries.extended3 import item_item_cosine

    pairs = item_item_cosine(spark, sf_dir)
    directed = pairs.select(
        F.col("part_i").alias("item"), F.col("part_j").alias("rec"), "cosine"
    ).unionByName(
        pairs.select(
            F.col("part_j").alias("item"), F.col("part_i").alias("rec"), "cosine"
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine"), "rec")
    return (
        directed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("item", "rec", "cosine", F.col("rk").cast("int").alias("rk"))
    )


@register(
    "table_diff_audit",
    oracle="""
    WITH old AS (
        SELECT o_orderkey AS k,
               md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                             round(o_totalprice, 2))) AS rh
        FROM orders
    ),
    new AS (
        SELECT o_orderkey AS k,
               md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                             round(CASE WHEN ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 20 = 0
                                        THEN o_totalprice * 1.1 ELSE o_totalprice END, 2))) AS rh
        FROM orders
        WHERE ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 20 <> 1
    ),
    joined AS (
        SELECT old.k AS ko, new.k AS kn, old.rh AS ro, new.rh AS rn
        FROM old FULL OUTER JOIN new ON old.k = new.k
    )
    SELECT CASE WHEN ko IS NULL THEN 'added'
                WHEN kn IS NULL THEN 'removed'
                WHEN ro <> rn THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(count(*) AS BIGINT) AS n
    FROM joined GROUP BY 1
    """,
)
def table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: row-hash full-outer-join comparison of two table
    versions → added/removed/changed/unchanged counts (the audit a
    data-versioning layer runs between loads). The "new" snapshot is a
    deterministic md5-keyed mutation of orders (5% prices changed, 5%
    rows deleted) so the diff is reproducible and oracle-checkable.

    Scale: row hashes are computed map-side from the key+payload, the
    diff is one key-equi full outer join (both sides hash-partitioned
    on the key), and the output is 4 counter rows — no row-level
    payloads survive the aggregate."""
    o = load_table(spark, sf_dir, "orders")
    rh = F.md5(
        F.concat_ws(
            "|",
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2),
        )
    )
    old = o.select(F.col("o_orderkey").alias("k"), rh.alias("ro"))
    bucket = F.pmod(TX.word_hash(F.col("o_orderkey").cast("string")), F.lit(20))
    mutated = o.withColumn(
        "o_totalprice",
        F.when(bucket == 0, F.col("o_totalprice") * 1.1).otherwise(
            F.col("o_totalprice")
        ),
    ).filter(bucket != 1)
    new = mutated.select(F.col("o_orderkey").alias("k"), rh.alias("rn"))
    joined = old.join(new, "k", "full_outer")
    status = (
        F.when(F.col("ro").isNull(), "added")
        .when(F.col("rn").isNull(), "removed")
        .when(F.col("ro") != F.col("rn"), "changed")
        .otherwise("unchanged")
    )
    return joined.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@register(
    "lang_confusion_matrix",
    oracle="""
    WITH scores AS (
        SELECT doc_id, lang,
           len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','to','in','is','it','you','that'], w))) AS s_en,
           len(list_filter(string_split(text,' '), w -> list_contains(['der','die','das','und','ist','nicht','du','ich','ein','zu'], w))) AS s_de,
           len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','que','y','en','un','ser','se','no'], w))) AS s_es,
           len(list_filter(string_split(text,' '), w -> list_contains(['le','la','de','et','les','des','en','un','une','du'], w))) AS s_fr
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE
                 WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'unknown'
                 WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
                 WHEN s_es > s_en AND s_es > s_de AND s_es > s_fr THEN 'es'
                 WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
                 ELSE 'en'
               END AS lang_pred
        FROM scores
    )
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, lang_pred
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the declared `lang` label vs the stopword
    language-ID heuristic — the classifier-quality readout a corpus
    pipeline monitors before trusting `lang_id_heuristic` as a filter
    (per-cell counts; diagonal mass = agreement rate). Map-only scoring
    + one (lang, pred)-keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    s = TX.lang_scores("text")
    en, de, es, fr = s["en"], s["de"], s["es"], s["fr"]
    pred = (
        F.when((en == 0) & (de == 0) & (es == 0) & (fr == 0), "unknown")
        .when((de > en) & (de > es) & (de > fr), "de")
        .when((es > en) & (es > de) & (es > fr), "es")
        .when((fr > en) & (fr > de) & (fr > es), "fr")
        .otherwise("en")
    )
    return (
        docs.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "vocab_coverage_curve",
    oracle="""
    WITH cnt AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    v AS (SELECT word, count(*) AS n FROM cnt GROUP BY word),
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rk FROM v
    ),
    tot AS (SELECT sum(n) AS total FROM v),
    ks AS (SELECT unnest([5, 10, 20, 30]) AS k)
    SELECT ks.k AS k,
           CAST(count(ranked.n) AS BIGINT) AS vocab_used,
           round(COALESCE(sum(ranked.n), 0) * 1.0 / any_value(tot.total), 6)
               AS coverage
    FROM ks
    LEFT JOIN ranked ON ranked.rk <= ks.k
    CROSS JOIN tot
    GROUP BY ks.k
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage curve: fraction of corpus token
    mass covered by the top-k most frequent words, at several k — the
    diminishing-returns readout that sizes a vocabulary. Word ranking
    uses the two-phase ``global_rank`` (leading-key buckets + bucket-local
    rank + broadcast offsets, no single-task global window); the k
    probe frame is 4 literal rows broadcast against the vocab.
    """
    from collective_als_spark.operators.split import global_rank

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(TX.words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = global_rank(cnt, [F.col("n").desc(), F.col("word")]).withColumn(
        "rk", F.col("_rk") + 1
    )
    tot = cnt.agg(F.sum("n").alias("total"))
    ks = F.broadcast(
        docs.sparkSession.createDataFrame([(5,), (10,), (20,), (30,)], "k int")
    )
    return (
        ks.join(ranked, F.col("rk") <= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.count("n").cast("bigint").alias("vocab_used"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("_mass"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "vocab_used",
            F.round(F.col("_mass") * 1.0 / F.col("total"), 6).alias("coverage"),
        )
    )


@register(
    "bigram_logprob_score",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    uni AS (
        SELECT unnest(ws) AS w1 FROM t
    ),
    ucnt AS (SELECT w1, count(*) AS c1 FROM uni GROUP BY w1),
    vsize AS (SELECT count(*) AS v FROM ucnt),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))
                   AS bigram
        FROM t
    ),
    bcnt AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY bigram)
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((bcnt.c12 + 0.5)
                        / (ucnt.c1 + 0.5 * vsize.v))), 4) AS avg_logprob
    FROM bg
    JOIN bcnt USING (bigram)
    JOIN ucnt ON ucnt.w1 = string_split(bg.bigram, ' ')[1]
    CROSS JOIN vsize
    GROUP BY bg.doc_id
    """,
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document quality score with add-½ smoothing:
    mean ln p(w_i | w_{i−1}) over each document's adjacent word pairs —
    one LM order above ``unigram_logprob_score``, the direction of the
    CCNet/KenLM perplexity filter. Counting shuffles are vocabulary-
    and bigram-vocabulary-sized (map-side combinable); the per-doc
    score joins each doc's bigrams against the two count frames
    (bigram-keyed, then first-word-keyed) and aggregates doc-keyed;
    |V| is a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    t = docs.select("doc_id", ws.alias("ws"))
    uni = t.select(F.explode("ws").alias("w1"))
    ucnt = uni.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vsize = ucnt.agg(F.count(F.lit(1)).alias("v"))
    idx = F.sequence(F.lit(1), F.greatest(F.size("ws") - 1, F.lit(0)))
    bigrams = F.when(
        F.size("ws") >= 2,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice("ws", i, 2))),
    ).otherwise(F.array().cast("array<string>"))
    bg = t.select("doc_id", F.explode(bigrams).alias("bigram"))
    bcnt = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    scored = (
        bg.join(bcnt, "bigram")
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .join(ucnt, "w1")
        .crossJoin(F.broadcast(vsize))
    )
    lp = F.log((F.col("c12") + 0.5) / (F.col("c1") + 0.5 * F.col("v")))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(F.avg(lp), 4).alias("avg_logprob"),
    )


_FH_DIM = 64


@register(
    "feature_hashing_vector",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               ('0x' || substring(md5(w), 1, 8))::BIGINT % {_FH_DIM} AS feature_idx,
               CASE WHEN ('0x' || substring(md5('sign|' || w), 1, 8))::BIGINT % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM tok
    )
    SELECT doc_id, CAST(feature_idx AS INTEGER) AS feature_idx,
           CAST(sum(sgn) AS BIGINT) AS val
    FROM hashed
    GROUP BY doc_id, feature_idx
    HAVING sum(sgn) <> 0
    """,
)
def feature_hashing_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al.): project
    the unbounded word space into a fixed {dim}-dim signed-count vector
    with NO vocabulary pass — idx = h(w) mod d, a second hash bit gives
    the ± sign that keeps collision noise zero-mean. The tokenless
    featurizer for linear models / MinHash-free similarity at corpus
    scale; emitted in sparse (doc, idx, val) triplet form. Map-only
    hashing + one doc-keyed aggregate; md5-derived so the projection is
    engine-reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.words("text")).alias("w"))
    idx = (TX.word_hash(F.col("w")) % _FH_DIM).cast("int").alias("feature_idx")
    sgn = F.when(
        TX.word_hash(F.concat(F.lit("sign|"), F.col("w"))) % 2 == 0, 1
    ).otherwise(-1)
    return (
        tok.select("doc_id", idx, sgn.alias("sgn"))
        .groupBy("doc_id", "feature_idx")
        .agg(F.sum("sgn").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )


@register(
    "mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS m
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_id, e.event_type, e.value, med.m,
               abs(e.value - med.m) AS ad
        FROM events e JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY ad) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, round(d.value, 4) AS value,
           floor(0.6745 * (d.value - d.m) / mad.mad * 10000 + 0.5) / 10000
               AS robust_z
    FROM dev d JOIN mad USING (event_type)
    WHERE abs(0.6745 * (d.value - d.m) / mad.mad) > 3.5
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outliers (Iglewicz–Hoaglin modified z-score):
    0.6745·(x−median)/MAD with the |z|>3.5 flag — unlike the
    stddev-based ``zscore_outliers``, the estimator itself is immune to
    the outliers it hunts. Two exact per-group medians (group-count-
    sized frames broadcast back between passes); everything else is
    map-side."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("m"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad")
    )
    rz = 0.6745 * (F.col("value") - F.col("m")) / F.col("mad")
    # rounding spelled as floor(x*1e4 + 0.5)/1e4 in BOTH engines: the
    # engines' native round() disagree by 1 ulp when the double sits at
    # a decimal half boundary (measured: 1 row in 4053 at sf0.1); this
    # formulation is pure float ops, bit-identical on identical inputs
    rz4 = F.floor(rz * 10000 + 0.5) / 10000
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.abs(rz) > 3.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            rz4.alias("robust_z"),
        )
    )


@register("compression_ratio_quality")
def compression_ratio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — the repetition/boilerplate
    signal the Gopher/MassiveText filters use (highly repetitive text
    compresses far below prose; near-random noise compresses above it).
    Implemented as an Arrow-batched pandas UDF (the documented slow
    path: no codegen DEFLATE exists) over a map-only projection —
    embarrassingly parallel, no shuffle at all before the final
    source rollup. Rows-only: DuckDB has no zlib; invariants pinned in
    tests/test_extended4.py (repetitive < prose < random)."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def comp_ratio(texts: pd.Series) -> pd.Series:
        def ratio(t: str) -> float:
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return texts.map(ratio)

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", comp_ratio(F.col("text")).alias("cr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("cr"), 4).alias("mean_ratio"),
            F.round(F.min("cr"), 4).alias("min_ratio"),
            F.round(F.max("cr"), 4).alias("max_ratio"),
        )
    )
