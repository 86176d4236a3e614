"""LLM-training-data pipeline queries over documents/embeddings
(SURVEY §2.11 / Phase 5 — no reference counterpart, driver north star).

Dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine),
similarity search (brute-force + LSH ANN), and text analysis
(quality, lang-ID, token counts, fingerprints). All hashes are
md5-derived so Spark and DuckDB agree bit-for-bit; float similarity is
computed in double precision and rounded in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collective_als_spark.functions import text as TX
from collective_als_spark.operators import dedup as D
from collective_als_spark.operators import similarity as SIM
from collective_als_spark.registry import register
from collective_als_spark.sources import load_table

_WORDS = "string_split(text, ' ')"
_SHINGLES = (
    "list_transform(range(1, len(string_split(text,' ')) - 1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] "
    "|| ' ' || string_split(text,' ')[i+2])"
)


# ------------------------------------------------------------- text analysis
@register(
    "text_quality_metrics",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_WORDS}) AS INTEGER) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                 * 1.0 / length(text), 6) AS punct_ratio,
           round(len(list_filter({_WORDS},
                 w -> list_contains(['the','a','of','and','to','in','is','it','you','that'], w)))
                 * 1.0 / len({_WORDS}), 6) AS stopword_ratio
    FROM documents
    """,
)
def text_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts, punctuation ratio, stopword ratio — pretraining
    quality-filter signals, all codegen'd (no UDF)."""
    from collective_als_spark.sources.testdata import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_calc"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(TX.stopword_ratio("text"), 6).alias("stopword_ratio"),
    )


@register(
    "lang_id_heuristic",
    oracle="""
    WITH scores AS (
        SELECT doc_id,
           len(list_filter(string_split(text,' '), w -> list_contains(['the','a','of','and','to','in','is','it','you','that'], w))) AS s_en,
           len(list_filter(string_split(text,' '), w -> list_contains(['der','die','das','und','ist','nicht','du','ich','ein','zu'], w))) AS s_de,
           len(list_filter(string_split(text,' '), w -> list_contains(['el','la','de','que','y','en','un','ser','se','no'], w))) AS s_es,
           len(list_filter(string_split(text,' '), w -> list_contains(['le','la','de','et','les','des','en','un','une','du'], w))) AS s_fr
        FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'unknown'
             WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
             WHEN s_es > s_en AND s_es > s_de AND s_es > s_fr THEN 'es'
             WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
             ELSE 'en'
           END AS lang_pred
    FROM scores
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID heuristic (ties resolve to 'en',
    no markers → 'unknown')."""
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
    return docs.select("doc_id", pred.alias("lang_pred"))


@register(
    "token_count_by_source",
    oracle=f"""
    SELECT source, lang,
           CAST(sum(len({_WORDS})) AS BIGINT) AS total_tokens,
           count(*) AS n_docs
    FROM documents
    GROUP BY source, lang
    """,
)
def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting rollup (map-side combinable)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.sum(TX.token_count("text").cast("bigint")).alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform({_WORDS},
                       w -> ('0x' || substring(md5(w), 1, 8))::BIGINT)),
               (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint."""
    from collective_als_spark.sources.testdata import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", TX.rolling_fingerprint("text").alias("fingerprint"))


# ------------------------------------------------------------------- dedup
@register(
    "exact_dedup",
    oracle="""
    WITH hashed AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
    sizes AS (SELECT content_hash, count(*) AS group_size FROM hashed GROUP BY content_hash)
    SELECT h.doc_id, h.content_hash, s.group_size, s.group_size > 1 AS is_dup
    FROM hashed h JOIN sizes s USING (content_hash)
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup_groups(docs, "doc_id", "text")


@register(
    "minhash_signature",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents
    ),
    hashed AS (
        SELECT doc_id, md5('0|' || s) AS h0, md5('1|' || s) AS h1 FROM sh
    )
    SELECT doc_id,
           min(substr(h0, 1, 8))  AS mh_0, min(substr(h0, 9, 8))  AS mh_1,
           min(substr(h0, 17, 8)) AS mh_2, min(substr(h0, 25, 8)) AS mh_3,
           min(substr(h1, 1, 8))  AS mh_4, min(substr(h1, 9, 8))  AS mh_5,
           min(substr(h1, 17, 8)) AS mh_6, min(substr(h1, 25, 8)) AS mh_7
    FROM hashed GROUP BY doc_id
    """,
)
def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_signatures(docs, "doc_id", "text", num_hashes=8)


@register(
    "lsh_candidate_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents
    ),
    hashed AS (
        SELECT doc_id, md5('0|' || s) AS h0, md5('1|' || s) AS h1 FROM sh
    ),
    sig AS (
        SELECT doc_id,
               min(substr(h0, 1, 8))  AS mh_0, min(substr(h0, 9, 8))  AS mh_1,
               min(substr(h0, 17, 8)) AS mh_2, min(substr(h0, 25, 8)) AS mh_3,
               min(substr(h1, 1, 8))  AS mh_4, min(substr(h1, 9, 8))  AS mh_5,
               min(substr(h1, 17, 8)) AS mh_6, min(substr(h1, 25, 8)) AS mh_7
        FROM hashed GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, mh_0 || '|' || mh_1 AS bh FROM sig
        UNION ALL SELECT doc_id, 1, mh_2 || '|' || mh_3 FROM sig
        UNION ALL SELECT doc_id, 2, mh_4 || '|' || mh_5 FROM sig
        UNION ALL SELECT doc_id, 3, mh_6 || '|' || mh_7 FROM sig
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """,
)
def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    return D.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, band_size=2)


_SIMHASH_CTE = """
    wh AS (
        SELECT doc_id,
               ('0x' || substring(md5(unnest(string_split(text, ' '))), 1, 8))::BIGINT AS h
        FROM documents
    ),
    votes AS (
        SELECT doc_id,
               {cols}
        FROM wh GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes)
""".format(
    cols=",\n               ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(32)
    ),
    sig=" + ".join(f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(32)),
)


@register(
    "simhash_fingerprint",
    oracle=f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sig",
)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text", bits=32)


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS s FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.2)


@register(
    "prefix_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS s FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7
    """,
)
def prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard join — same oracle as
    `ngram_jaccard_pairs` because prefix filtering is LOSSLESS: the
    rare-first prefix index only prunes candidates that provably cannot
    reach the threshold (see operators/dedup.py::prefix_jaccard_pairs).

    Registered at t=0.7, the near-dup regime prefix filtering is FOR
    (prefix length n−⌈t·n⌉+1 ≈ 0.3·n): at the r02 threshold of 0.2 the
    prefix was ~0.8·n, so the "filter" rebuilt most of the full
    inverted index and benched 3× the plain Jaccard join. The testdata
    near-dup pairs all sit above 0.7, so the result set is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    return D.prefix_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.7)


# ------------------------------------------------------- similarity search
@register(
    "embedding_neardup_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) > 0.4
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-path (`exact=True`) so the result is deterministically the
    oracle's all-pairs answer: the library default is LSH-approximate
    (`operators/similarity.py::embedding_neardup_pairs`), whose recall at
    cos≈threshold is probabilistic — fine for the 100 TB scale path,
    wrong to hash-check against an exact oracle. The LSH path keeps its
    own recall test in tests/test_similarity.py.

    Threshold 0.4 (r03 verdict #5): the driver's synthetic embeddings
    are near-orthogonal, so t=0.8 produced a vacuous 0=0 hash match at
    sf0.01; t=0.4 yields ~59 pairs there (~66 at sf0.001), making the
    driver row actually discriminate a broken filter from a correct
    one."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return SIM.embedding_neardup_pairs(emb, threshold=0.4, exact=True)


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents
    ),
    hashed AS (
        SELECT doc_id, md5('0|' || s) AS h0, md5('1|' || s) AS h1 FROM sh
    ),
    sig AS (
        SELECT doc_id,
               min(substr(h0, 1, 8))  AS mh_0, min(substr(h0, 9, 8))  AS mh_1,
               min(substr(h0, 17, 8)) AS mh_2, min(substr(h0, 25, 8)) AS mh_3,
               min(substr(h1, 1, 8))  AS mh_4, min(substr(h1, 9, 8))  AS mh_5,
               min(substr(h1, 17, 8)) AS mh_6, min(substr(h1, 25, 8)) AS mh_7
        FROM hashed GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, mh_0 || '|' || mh_1 AS bh FROM sig
        UNION ALL SELECT doc_id, 1, mh_2 || '|' || mh_3 FROM sig
        UNION ALL SELECT doc_id, 2, mh_4 || '|' || mh_5 FROM sig
        UNION ALL SELECT doc_id, 3, mh_6 || '|' || mh_7 FROM sig
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
    )
    SELECT node AS doc_id,
           min(lbl) AS component,
           min(lbl) = node AS is_canonical
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline: minhash -> LSH candidate pairs -> connected
    components -> canonical doc per duplicate cluster. The step a real
    corpus dedup needs beyond pairs: transitive closure so A~B, B~C
    collapse to one cluster with one kept document.

    Scale shape: label propagation (operators/graph.py) — one shuffle
    join + min-agg per round, rounds = duplicate-cluster diameter
    (near-clique, so ~2-3); singleton docs never enter the loop and are
    coalesced to their own id in a map-only left join."""
    from collective_als_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    pairs = D.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, band_size=2)
    comp = connected_components(pairs, "id_a", "id_b")
    return (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
        )
        .withColumn("is_canonical", F.col("component") == F.col("doc_id"))
    )


@register(
    "incremental_lsh_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents
    ),
    hashed AS (
        SELECT doc_id, md5('0|' || s) AS h0, md5('1|' || s) AS h1 FROM sh
    ),
    sig AS (
        SELECT doc_id,
               min(substr(h0, 1, 8))  AS mh_0, min(substr(h0, 9, 8))  AS mh_1,
               min(substr(h0, 17, 8)) AS mh_2, min(substr(h0, 25, 8)) AS mh_3,
               min(substr(h1, 1, 8))  AS mh_4, min(substr(h1, 9, 8))  AS mh_5,
               min(substr(h1, 17, 8)) AS mh_6, min(substr(h1, 25, 8)) AS mh_7
        FROM hashed GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, mh_0 || '|' || mh_1 AS bh FROM sig
        UNION ALL SELECT doc_id, 1, mh_2 || '|' || mh_3 FROM sig
        UNION ALL SELECT doc_id, 2, mh_4 || '|' || mh_5 FROM sig
        UNION ALL SELECT doc_id, 3, mh_6 || '|' || mh_7 FROM sig
    )
    SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS match_id
    FROM banded n JOIN banded e
      ON n.band = e.band AND n.bh = e.bh AND n.doc_id <> e.doc_id
    WHERE n.doc_id % 10 = 0 AND NOT (e.doc_id % 10 = 0 AND e.doc_id > n.doc_id)
    """,
)
def incremental_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: an arriving batch (docs with
    id % 10 == 0 stand in for today's crawl) is checked against the
    existing corpus index AND itself — the asymmetric candidate join
    of a production pipeline, where the new batch is small enough to
    broadcast against the big banded index instead of re-self-joining
    the whole corpus. New-new pairs are emitted once (lower id owns
    the pair); new-old pairs always surface."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    n_bands, band_size = 4, 2
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
        bands.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("|", *cols).alias("bh"))
        )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("bd")
    ).select("doc_id", F.col("bd.band").alias("band"), F.col("bd.bh").alias("bh"))
    is_new = F.pmod("doc_id", F.lit(10)) == 0
    new = banded.filter(is_new).select(
        F.col("doc_id").alias("new_id"), "band", "bh"
    )
    # the full index, old + new: new docs must also dedup among
    # themselves; the anti-duplication guard below keeps one direction
    idx = banded.select(F.col("doc_id").alias("match_id"), "band", "bh")
    return (
        F.broadcast(new)
        .join(idx, ["band", "bh"])
        .filter(F.col("new_id") != F.col("match_id"))
        .filter(
            ~(
                (F.pmod("match_id", F.lit(10)) == 0)
                & (F.col("match_id") > F.col("new_id"))
            )
        )
        .select("new_id", "match_id")
        .distinct()
    )


@register(
    "document_chunking",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, ws,
               unnest(range(0, CAST(greatest(ceil((n - 32) * 1.0 / 32), 1) AS BIGINT))) AS cid
        FROM t
    )
    SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id,
           CAST(len(ws[cid*32+1 : cid*32+64]) AS INTEGER) AS n_chunk_tokens,
           md5(array_to_string(ws[cid*32+1 : cid*32+64], ' ')) AS chunk_hash
    FROM c
    """,
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, stride 32) — the
    context-length preprocessing step of an LLM training pipeline.
    Chunk count = max(ceil((n - overlap) / stride), 1), so the final
    window covers the tail without emitting fully-contained chunks.
    Pure codegen (sequence + explode + slice), map-only: chunking 100 TB
    is embarrassingly parallel and this plan keeps it that way."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n = F.size(ws)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(32)).cast("double") / F.lit(32.0)).cast("int"), F.lit(1)
    )
    base = docs.select(
        "doc_id",
        ws.alias("ws"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice(F.col("ws"), F.col("chunk_id") * 32 + 1, 64)
    return base.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@register(
    "quality_quantile_filter",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               CAST(len({_WORDS}) AS INTEGER) AS n_tokens,
               percent_rank() OVER (PARTITION BY source ORDER BY len({_WORDS})) AS pr
        FROM documents
    )
    SELECT doc_id, source, n_tokens, round(pr, 6) AS pct_rank
    FROM scored WHERE pr >= 0.1
    """,
)
def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality gate: drop the bottom decile of docs by token
    count WITHIN each source (absolute thresholds over-prune terse
    sources). percent_rank over a source-partitioned window — fully
    parallel, deterministic under ties."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(TX.token_count("text"))
    return (
        docs.select(
            "doc_id",
            "source",
            TX.token_count("text").alias("n_tokens"),
            F.percent_rank().over(w).alias("pr"),
        )
        .filter(F.col("pr") >= 0.1)
        .select("doc_id", "source", "n_tokens", F.round("pr", 6).alias("pct_rank"))
    )


@register(
    "repetition_metrics",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cnt AS (SELECT doc_id, tok, count(*) AS c FROM w GROUP BY doc_id, tok)
    SELECT doc_id,
           round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_token_ratio,
           round(max(c) * 1.0 / sum(c), 6) AS top_token_ratio
    FROM cnt GROUP BY doc_id
    """,
)
def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate signals (Gopher-style quality filters):
    duplicate-token ratio and most-frequent-token mass. Explode + two
    map-side-combinable aggregations — no per-doc quadratic work."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.round(1.0 - F.count(F.lit(1)) / F.sum("c"), 6).alias("dup_token_ratio"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_token_ratio"),
    )


@register(
    "deterministic_sample",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-mod sampling: a stable ~10% sample reproducible across
    engines, runs, and partitionings (the scalable alternative to
    seeded random sampling for held-out corpus slices)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        F.pmod(TX.word_hash(F.col("doc_id").cast("string")), F.lit(10)) == 0
    ).select("doc_id", "source")


@register(
    "simhash_neardup_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    banded AS (
        SELECT doc_id, simhash, t.b AS band, (simhash >> (t.b * 8)) & 255 AS bk
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) t
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sa, b.simhash AS sb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
    """,
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming distance <= 3 over 32-bit simhash —
    the fuzzy tier between exact dedup and MinHash Jaccard. Banded
    self-join (4 x 8-bit bands); pigeonhole makes recall exact for
    max_hamming < n_bands. Never an all-pairs comparison."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.simhash(docs, "doc_id", "text", bits=32)
    return D.simhash_neardup_pairs(sigs, "doc_id", "simhash")


@register(
    "sequence_packing",
    oracle="""
    WITH t AS (
        SELECT doc_id, source, CAST(doc_id % 8 AS INTEGER) AS shard,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT *, COALESCE(sum(n_tokens) OVER (
            PARTITION BY source, shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        FROM t
    )
    SELECT doc_id, source, shard, n_tokens,
           CAST(prev // 256 AS BIGINT) AS seq_id,
           CAST(prev % 256 AS BIGINT) AS tok_offset
    FROM c
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: lay each (source, shard)'s docs end-to-end
    in id order, cut every 256 tokens — every doc gets the training
    sequence it starts in plus its offset. Window partitioned by
    (source, shard): sharding is the packer's parallelism unit, so the
    plan has no global ordering anywhere."""
    from collective_als_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        F.pmod("doc_id", F.lit(8)).cast("int").alias("shard"),
        TX.token_count("text").alias("n_tokens"),
    )
    return pack_sequences(base, "doc_id", "n_tokens", 256, ["source", "shard"])


@register(
    "contamination_overlap",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES}) AS s FROM documents
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
    train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
    agg AS (
        SELECT t.doc_id,
               count(*) AS n_shingles,
               sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM train t LEFT JOIN bench b ON t.s = b.s
        GROUP BY t.doc_id
    )
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_hit AS BIGINT) AS n_hit,
           round(n_hit * 1.0 / n_shingles, 6) AS contamination
    FROM agg WHERE n_hit > 0
    """,
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: fraction of each training doc's
    distinct 3-shingles that appear in the held-out benchmark slice
    (docs with id % 97 == 0 stand in for an eval set). The benchmark
    shingle set is small by construction -> broadcast to the training
    side; one shuffle (the per-doc aggregate). The decontamination
    pass every serious pretraining corpus runs."""
    from collective_als_spark.functions.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col("text"), 3)).alias("s")
    ).distinct()
    is_bench = F.pmod("doc_id", F.lit(97)) == 0
    bench = sh.filter(is_bench).select("s").distinct()
    train = sh.filter(~is_bench)
    return (
        train.join(
            F.broadcast(bench.withColumn("_hit", F.lit(1))), "s", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hit"),
        )
        .filter(F.col("n_hit") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_shingles"), 6).alias("contamination"),
        )
    )


@register(
    "bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                AS INTEGER) AS bpe_tokens
    FROM documents
    """,
)
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish-regex token counts per doc (the two token
    accounting modes of a pretraining pipeline). Map-only codegen."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("ws_tokens"),
        TX.bpe_like_token_count("text").alias("bpe_tokens"),
    )


@register(
    "source_mixture_sample",
    oracle="""
    WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    w AS (
        SELECT source, n_docs, sqrt(n_docs) AS wt,
               sum(sqrt(n_docs)) OVER () AS tot_w
        FROM n
    ),
    r AS (
        SELECT source,
               least(1.0, 1000.0 * wt / tot_w / n_docs) AS rate
        FROM w
    )
    SELECT d.doc_id, d.source,
           round(r.rate, 6) AS rate
    FROM documents d JOIN r USING (source)
    WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
          < CAST(floor(r.rate * 1000000 + 0.5) AS BIGINT)
    """,
)
def source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixture (alpha = 0.5, target ~1000
    docs): over-represented sources are down-sampled toward
    n^alpha-proportional mass — the standard mixture re-weighting of a
    multilingual/multi-source pretraining corpus. Per-source rates come
    from a tiny per-source aggregate (broadcast back); membership is
    the deterministic md5-threshold rule, so the sample is reproducible
    across engines and partitionings."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # the per-source frame is dictionary-sized: the un-partitioned
    # window over it never sees more rows than distinct sources
    tot = n.agg(F.sum(F.sqrt("n_docs")).alias("tot_w"))
    rates = (
        n.join(F.broadcast(tot))
        .select(
            "source",
            F.least(
                F.lit(1.0),
                F.lit(1000.0) * F.sqrt("n_docs") / F.col("tot_w") / F.col("n_docs"),
            ).alias("rate"),
        )
    )
    thr = F.floor(F.col("rate") * 1000000 + F.lit(0.5)).cast("bigint")
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(
            F.pmod(TX.word_hash(F.col("doc_id").cast("string")), F.lit(1000000)) < thr
        )
        .select("doc_id", "source", F.round("rate", 6).alias("rate"))
    )


_BM25_TERMS = ["spark", "window", "join"]
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "bm25_scores",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               {tfs}
        FROM documents
    ),
    g AS (
        SELECT count(*) AS n,
               sum(dl) * 1.0 / count(*) AS avgdl,
               {dfs}
        FROM t
    )
    SELECT doc_id, round({score}, 6) AS bm25
    FROM t, g
    WHERE {any_tf}
    """.format(
        tfs=",\n               ".join(
            f"len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS tf{i}"
            for i, t in enumerate(_BM25_TERMS)
        ),
        dfs=",\n               ".join(
            f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
            for i in range(len(_BM25_TERMS))
        ),
        score=" + ".join(
            f"(ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * {_BM25_K1 + 1} "
            f"/ (tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl)))"
            for i in range(len(_BM25_TERMS))
        ),
        any_tf=" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS))) + " > 0",
    ),
)
def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scores for a fixed query (the retrieval scorer of
    a RAG / data-curation stack), k1=1.2 b=0.75.

    Scale shape: per-doc term frequencies are higher-order array
    functions (map-only, codegen), corpus statistics (N, avgdl, df) are
    ONE global aggregate broadcast back — so the whole scorer is one
    tiny shuffle plus a map, no explode of the corpus, no join on
    terms. Fixed-order summation keeps the oracle hash stable."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    def _tf(term: str):
        # NB: a 2-arg lambda would make F.filter pass (element, index)
        return F.size(F.filter(ws, lambda w: w == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)]
    t = docs.select("doc_id", F.size(ws).alias("dl"), *tf_cols)
    g = t.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            1 + (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        s = (
            idf
            * F.col(f"tf{i}")
            * (_BM25_K1 + 1)
            / (
                F.col(f"tf{i}")
                + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = s if score is None else score + s
    any_tf = sum(F.col(f"tf{i}") for i in range(len(_BM25_TERMS))) > 0
    return (
        t.join(F.broadcast(g))
        .filter(any_tf)
        .select("doc_id", F.round(score, 6).alias("bm25"))
    )


_HYBRID_ORACLE = """
    WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS dl,
               len(list_filter(string_split(text, ' '), w -> w = 'spark')) AS tf0,
               len(list_filter(string_split(text, ' '), w -> w = 'window')) AS tf1,
               len(list_filter(string_split(text, ' '), w -> w = 'join')) AS tf2
        FROM documents
    ),
    g AS (
        SELECT count(*) AS n,
               sum(dl) * 1.0 / count(*) AS avgdl,
               sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
               sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
               sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        FROM t
    ),
    scored AS (
        SELECT doc_id,
               (ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
                / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
             + (ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
                / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
             + (ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
                / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS bm25
        FROM t, g
        WHERE tf0 + tf1 + tf2 > 0
    ),
    cand AS (
        SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50
    ),
    mx AS (SELECT max(bm25) AS max_bm25 FROM cand),
    qv AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    reranked AS (
        SELECT c.doc_id,
               0.5 * c.bm25 / mx.max_bm25
             + 0.5 * list_cosine_similarity(e.embedding::DOUBLE[], qv.qe) AS hybrid
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.doc_id, mx, qv
    )
    SELECT doc_id, round(hybrid, 6) AS hybrid
    FROM reranked ORDER BY hybrid DESC, doc_id LIMIT 10
    """


def bm25_raw_scores(docs: DataFrame) -> DataFrame:
    """Full-precision BM25 scores (doc_id, bm25) for the fixed query
    terms — shared by `hybrid_retrieval` and `rrf_fusion` (the
    registered `bm25_scores` query rounds its output; ranking needs
    the raw score)."""
    ws = F.split("text", " ")

    def _tf(term: str):
        return F.size(F.filter(ws, lambda w: w == F.lit(term)))

    t = docs.select(
        "doc_id",
        F.size(ws).alias("dl"),
        *[_tf(term).alias(f"tf{i}") for i, term in enumerate(_BM25_TERMS)],
    )
    g = t.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            1 + (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        s = (
            idf
            * F.col(f"tf{i}")
            * (_BM25_K1 + 1)
            / (
                F.col(f"tf{i}")
                + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = s if score is None else score + s
    any_tf = sum(F.col(f"tf{i}") for i in range(len(_BM25_TERMS))) > 0
    return (
        t.join(F.broadcast(g)).filter(any_tf).select("doc_id", score.alias("bm25"))
    )


def hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (the RAG-stack pattern): BM25 candidate
    generation -> embedding cosine rerank, blended 50/50 after max-norm
    of the lexical score.

    Scale shape: candidate selection is TakeOrderedAndProject (top-50,
    never a global sort); the query vector and the candidate-max are
    single-row broadcasts; the rerank join touches only 50 candidate
    embeddings. No all-pairs anything."""
    from collective_als_spark.functions.vector import cosine_similarity

    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_raw_scores(docs)
    cand = scored.orderBy(F.desc("bm25"), "doc_id").limit(50)
    mx = cand.agg(F.max("bm25").alias("max_bm25"))
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    reranked = (
        cand.join(emb, cand.doc_id == emb.vec_id)
        .join(F.broadcast(mx))
        .join(F.broadcast(qv))
        .select(
            "doc_id",
            (
                F.lit(0.5) * F.col("bm25") / F.col("max_bm25")
                + F.lit(0.5) * cosine_similarity("e", "qe")
            ).alias("hybrid"),
        )
    )
    return (
        reranked.orderBy(F.desc("hybrid"), "doc_id")
        .limit(10)
        .select("doc_id", F.round("hybrid", 6).alias("hybrid"))
    )


register("hybrid_retrieval", oracle=_HYBRID_ORACLE)(hybrid_retrieval)


@register(
    "embedding_quantize",
    oracle="""
    WITH t AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    s AS (
        SELECT vec_id, e,
               greatest(list_max(list_transform(e, x -> abs(x))), 1e-12) / 127.0 AS scale
        FROM t
    ),
    q AS (
        SELECT vec_id, scale,
               list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS codes
        FROM s
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           md5(array_to_string(codes, ',')) AS codes_hash,
           CAST(list_aggregate(list_transform(codes, c -> abs(c)), 'sum') AS BIGINT)
               AS codes_l1
    FROM q
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the 4x storage cut an ANN
    index over 100 TB of embeddings starts with): per-vector scale
    max(|x|)/127, codes floor(x/scale + 0.5). Map-only codegen plan —
    no shuffle, no UDF. Codes surface as an md5 + L1 so the row stays
    scalar-hashable; both engines quantize the same doubles."""
    from collective_als_spark.functions.vector import (
        quantize_int8,
        quantize_scale_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    scaled = emb.withColumn("scale", quantize_scale_int8("e"))
    coded = scaled.withColumn("codes", quantize_int8("e", F.col("scale")))
    return coded.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.md5(F.array_join(F.transform("codes", lambda c: c.cast("string")), ","))
        .alias("codes_hash"),
        F.aggregate(
            F.transform("codes", lambda c: F.abs(c)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("codes_l1"),
    )


@register(
    "stratified_sample_exact",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, source, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n-per-stratum sampling: 5 docs per source, chosen by
    md5 order — a deterministic engine-stable draw (unlike seeded
    random sampling, identical across partitionings and engines).
    Source-partitioned window + WindowGroupLimit pushdown: the rank
    filter prunes below the window, never materializing full ranks."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
    )


@register(
    "kfold_assign",
    oracle="""
    SELECT doc_id,
           CAST(('0x' || substring(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 5 AS INTEGER) AS fold
    FROM documents
    """,
)
def kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based k-fold assignment (k=5): stable across runs, engines,
    and data order — the cross-validation split that survives a corpus
    re-shuffle (seeded randomSplit does not). Map-only."""
    docs = load_table(spark, sf_dir, "documents")
    h = TX.word_hash(F.concat(F.lit("fold|"), F.col("doc_id").cast("string")))
    return docs.select("doc_id", F.pmod(h, F.lit(5)).cast("int").alias("fold"))


@register(
    "negative_sampling",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    seen AS (
        SELECT user_id, event_type FROM events
        GROUP BY user_id, event_type HAVING count(*) >= 12
    ),
    negatives AS (
        SELECT u.user_id, t.event_type
        FROM users u CROSS JOIN types t
        LEFT JOIN seen s
          ON s.user_id = u.user_id AND s.event_type = t.event_type
        WHERE s.user_id IS NULL
    ),
    picked AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY md5(CAST(user_id AS VARCHAR) || '|' || event_type)
               ) AS rk
        FROM negatives
    )
    SELECT user_id, event_type FROM picked WHERE rk <= 2
    """,
)
def negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback negative sampling: up to 2 (user, event_type)
    pairs WITHOUT a strong interaction (fewer than 12 events), picked
    by deterministic hash order — the training-pair generator for
    implicit recommenders (positives = strong pairs, negatives drawn
    from the complement).

    Scale shape: the item dimension is dictionary-sized (event types),
    so candidates = users x broadcast(types) with an anti-join against
    the seen pairs — one shuffle on the seen side; the per-user pick is
    a user-partitioned window with group-limit pushdown. For a large
    item universe this becomes hash-bucketed sampling per user; the
    dictionary case is the common top-of-funnel shape."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    types = ev.select("event_type").distinct()
    seen = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 12)
        .select("user_id", "event_type")
    )
    negatives = users.join(F.broadcast(types)).join(
        seen, ["user_id", "event_type"], "left_anti"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.concat_ws("|", F.col("user_id").cast("string"), "event_type"))
    )
    return (
        negatives.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("user_id", "event_type")
    )


@register(
    "ann_topk_cosine",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cos
        FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, cos, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for a bounded query set."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    return SIM.brute_force_topk(emb, queries, k=5)


@register("ann_topk_lsh")
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (rows-only: bucket assignment uses
    deterministic numpy hyperplanes, not SQL-expressible)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.lsh_topk(emb, k=5)


@register("ann_topk_ivf")
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means coarse quantizer + multi-probe + exact re-rank
    (rows-only: k-means iterations are not SQL-expressible)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, k=5, n_cells=16, n_probe=4)


@register("ann_topk_pq")
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (PQ-ADC + exact rerank): byte-coded
    scan with per-query lookup tables — the memory-bound billion-scale
    ANN family member next to LSH and IVF (rows-only: k-means codebook
    training; recall pinned in tests/test_extended4.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.pq_topk(emb, k=5, m=8, n_codes=16, rerank_depth=50, n_queries=100)


@register(
    "pipeline_clean_corpus",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, source, text, md5(text) AS content_hash,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    canonical AS (  -- exact dedup: keep the lowest doc_id per content
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY content_hash ORDER BY doc_id
            ) AS rn FROM hashed
        ) WHERE rn = 1
    ),
    kept AS (       -- quality gate: token count floor
        SELECT * FROM canonical WHERE n_tokens >= 20
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 4) AS avg_tokens
    FROM kept
    GROUP BY source
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning: exact dedup (keep lowest id per
    content hash) -> token-count quality floor -> per-source stats.

    The composition stays one declarative plan: hash + window dedup +
    filter + aggregate, two shuffles total (content_hash, then source),
    every stage map-side combinable — the shape a 100 TB corpus-prep
    job needs (no collect, no per-doc Python)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("content_hash"),
        TX.token_count("text").alias("n_tokens"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    canonical = (
        hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    kept = canonical.filter(F.col("n_tokens") >= 20)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


@register(
    "pipeline_training_prep",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, source, text, md5(text) AS content_hash,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    canonical AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY content_hash ORDER BY doc_id
            ) AS rn FROM hashed
        ) WHERE rn = 1
    ),
    kept AS (SELECT * FROM canonical WHERE n_tokens >= 20),
    chunks AS (
        SELECT doc_id, source,
               unnest(range(0, CAST(greatest(ceil((n_tokens - 32) * 1.0 / 32), 1)
                                    AS BIGINT))) AS cid,
               string_split(text, ' ') AS ws
        FROM kept
    )
    SELECT source,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_chunks,
           CAST(sum(len(ws[cid*32+1 : cid*32+64])) AS BIGINT) AS total_chunk_tokens
    FROM chunks
    GROUP BY source
    """,
)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star composition in ONE declarative plan: exact dedup
    (keep lowest id per content hash) -> token-count quality floor ->
    sliding-window chunking (64/32) -> per-source chunk accounting.

    Catalyst fuses the whole thing: hash + window dedup + filter +
    sequence/explode chunker + one aggregate — two shuffles
    (content_hash, source) for the full corpus-to-training-chunks
    path. This is the job a 100 TB pretraining prep actually runs."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    hashed = docs.select(
        "doc_id",
        "source",
        ws.alias("ws"),
        F.md5("text").alias("content_hash"),
        F.size(ws).alias("n_tokens"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    kept = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("n_tokens") >= 20))
    )
    n_chunks = F.greatest(
        F.ceil((F.col("n_tokens") - F.lit(32)).cast("double") / F.lit(32.0)).cast(
            "int"
        ),
        F.lit(1),
    )
    chunks = kept.select(
        "doc_id",
        "source",
        "ws",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("cid"),
    )
    chunk_tokens = F.size(F.slice(F.col("ws"), F.col("cid") * 32 + 1, 64))
    return chunks.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(chunk_tokens.cast("bigint")).alias("total_chunk_tokens"),
    )


@register(
    "vocab_top_words",
    oracle="""
    WITH w AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT word, count(*) AS n
    FROM w GROUP BY word
    ORDER BY n DESC, word
    LIMIT 1000
    """,
)
def vocab_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction: top-1000 words by corpus frequency — the
    first step of tokenizer training. Explode + map-side-combinable
    count + TakeOrderedAndProject (top-k, never a global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(1000)
    )


@register(
    "word_bigram_counts",
    oracle="""
    WITH t AS (
        SELECT string_split(text, ' ') AS ws FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i+1])) AS bigram
        FROM t
    )
    SELECT bigram, count(*) AS n
    FROM bg GROUP BY bigram
    HAVING count(*) >= 20
    """,
)
def word_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair (bigram) corpus counts above a support floor — the
    merge-candidate statistics of BPE training and the raw counts of an
    n-gram LM. Slice-based pair construction (same codegen shape as the
    shingler), one count shuffle with map-side combine."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(ws) - 1, F.lit(0)))
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, 2))),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 20)
    )


@register(
    "vocab_top_p_mass",
    oracle="""
    WITH w AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    cnt AS (SELECT word, count(*) AS n FROM w GROUP BY word),
    tot AS (SELECT sum(n) AS total FROM cnt),
    cum AS (
        SELECT word, n,
               sum(n) OVER (ORDER BY n DESC, word
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS mass_before
        FROM cnt
    )
    SELECT word, n, round(COALESCE(mass_before, 0) * 1.0 / tot.total, 6) AS cum_share
    FROM cum, tot
    WHERE COALESCE(mass_before, 0) * 1.0 / tot.total < 0.9
    """,
)
def vocab_top_p_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) vocabulary truncation: keep the most frequent
    words that together cover 90% of token mass — the distributional
    cutoff used for vocab pruning and sampling. Cumulative mass uses the
    two-phase ``global_cumsum`` (operators/split.py): bucket on
    n desc, per-bucket window cumsum over (n desc, word), broadcast offset add —
    linear work per vocab entry and no single-task global window. (The
    round-2 packed-array formulation was O(V²): ``aggregate(slice(arr,
    1, i))`` re-scanned the prefix for every element — slower than the
    window it avoided once V reaches real vocabulary sizes.)"""
    from ..operators.split import global_cumsum

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cum = global_cumsum(
        cnt,
        [F.col("n").desc(), F.col("word")],
        "n",
        cumsum_col="mass_before",
        total_col="total",
    )
    return (
        cum.withColumn(
            "cum_share", F.round(F.col("mass_before") / F.col("total"), 6)
        )
        .filter(F.col("mass_before") / F.col("total") < 0.9)
        .select("word", "n", "cum_share")
    )


@register("ann_index_roundtrip")
def ann_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent-index serving path: build the IVFADC index, save it
    (codes parquet partitioned by cell + quantizer sidecars), load it
    back, and answer a query batch from the LOADED artifacts — the
    build-once/serve-many lifecycle production vector search needs at
    100 TB, where re-clustering per query batch is impossible. The
    probed-cell filter is directory-level partition pruning on the
    saved codes (asserted in tests/test_ann_index.py). Rows-only (two
    k-means stages; load-equals-build and recall pinned in
    tests/test_ann_index.py)."""
    import os
    import tempfile

    from collective_als_spark.operators.ann_index import IvfPqIndex

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IvfPqIndex.build(emb, n_cells=8, m=8, n_codes=16, seed=42)
    # fixed, overwritten location: repeated driver/bench invocations
    # must not accumulate a fresh mkdtemp copy of the codes per run
    path = os.path.join(
        tempfile.gettempdir(), f"annix_{os.getpid()}", "ivfpq"
    )
    idx.save(path)
    loaded = IvfPqIndex.load(spark, path)
    queries = emb.orderBy("vec_id").limit(50)
    return loaded.search(queries, emb, k=5, n_probe=6, rerank_depth=60)


@register("ann_topk_ivfadc")
def ann_topk_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC ANN: IVF cells prune which rows are scored, PQ-ADC byte
    codes make scoring cheap, exact cosine reranks — the billion-scale
    composition (rows-only: two k-means stages; recall pinned in
    tests/test_extended4.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ivfadc_topk(
        emb, k=5, n_cells=16, n_probe=6, m=8, n_codes=16, rerank_depth=50,
        n_queries=100,
    )


# ------------------------------------------------------ decontamination
@register(
    "benchmark_decontamination",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
        SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
              FROM tok WHERE len(t) >= 8)
    ),
    bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
    train AS (SELECT doc_id, g FROM g WHERE doc_id % 10 <> 0)
    SELECT train.doc_id, CAST(count(DISTINCT train.g) AS BIGINT) AS n_hit_grams
    FROM train JOIN bench USING (g)
    GROUP BY train.doc_id
    ORDER BY doc_id
    """,
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination against a benchmark/eval set — the
    GPT-3/PaLM-style gate: a TRAINING document is contaminated if it
    shares any 8-token n-gram with a benchmark document (here the
    deterministic ``doc_id % 10 == 0`` slice stands in for the eval
    set). Returns each contaminated train doc with its count of
    distinct offending benchmark grams, so the pipeline can drop or
    redact by severity.

    Scale shape (the reason this form survives 100 TB): benchmark
    suites are tiny relative to the corpus — their distinct 8-gram set
    BROADCASTS, so the train side is one map-only gram explode + a
    broadcast semi-equi-join + a per-doc count; zero corpus-sized
    shuffles (only the contaminated-doc aggregate, bounded by hit
    count). An 8-gram is the published contamination granularity
    (GPT-3 used 13-grams; smaller n = stricter), and exact string
    grams (not hashes) keep the DuckDB oracle bit-for-bit."""
    from collective_als_spark.sources.testdata import spread

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 8 THEN transform(sequence(0, size(t) - 8), "
                "i -> array_join(slice(t, i + 1, 8), ' ')) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    bench = (
        grams.filter(F.col("doc_id") % 10 == 0).select("g").distinct()
    )
    train = grams.filter(F.col("doc_id") % 10 != 0)
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_hit_grams"))
        .orderBy("doc_id")
    )


@register(
    "ann_filtered_topk",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    allowed AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cos
        FROM q JOIN allowed c ON q.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, cos, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered ANN through the persistent IVFADC index
    (single-stage filtering): only corpus rows passing the predicate
    are scanned and scored, so each query gets a FULL top-k among the
    allowed rows — a post-filter would under-fill under a selective
    predicate. Exhaustive probing + full rerank depth make the serve
    path exact here, so the DuckDB oracle (brute-force cosine over
    the filtered corpus) pins the whole pipeline: quantizer build,
    byte-code scan, allowed-id semi-join, exact rerank, tie-break.

    At 100 TB the filter is one semi-join against the (pruned) byte
    codes — the delete-mask mechanism reused; with the usual
    sqrt(corpus) cells and bounded n_probe the scan stays
    partition-pruned and batch-proportional."""
    from collective_als_spark.operators.ann_index import IvfPqIndex

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    idx = IvfPqIndex.build(emb, n_cells=8, m=8, n_codes=16, seed=42)
    queries = emb.filter(F.col("vec_id") < 20)
    return idx.search(
        queries,
        emb,
        k=5,
        n_probe=8,
        rerank_depth=1_000_000,
        where="vec_id % 3 = 0",
    )


@register(
    "gopher_quality_signals",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    sig AS (
        SELECT doc_id,
               CAST(len(l) AS INTEGER) AS n_words,
               round(list_aggregate(list_transform(l, x -> length(x)), 'sum')
                     * 1.0 / len(l), 6) AS mean_word_len,
               round(1.0 - len(list_distinct(l)) * 1.0 / len(l), 6)
                   AS dup_word_frac,
               round(1.0 - len(list_distinct(
                         list_transform(range(1, len(l)),
                                        i -> l[i] || ' ' || l[i + 1])))
                     * 1.0 / (len(l) - 1), 6) AS dup_2gram_frac
        FROM w WHERE len(l) > 1
    )
    SELECT doc_id, n_words, mean_word_len, dup_word_frac, dup_2gram_frac,
           (mean_word_len BETWEEN 3 AND 10
            AND dup_word_frac < 0.7
            AND dup_2gram_frac < 0.5) AS pass_gate
    FROM sig
    """,
)
def gopher_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals per document: mean word
    length, duplicate-word fraction, duplicate-2-gram fraction, and
    the combined gate (the MassiveText filtering rules' word-level
    members — line-level members degenerate on single-line docs).

    Everything is JVM-evaluated array algebra over ONE split of the
    text — transform/slice/array_distinct/aggregate higher-order
    expressions (outside whole-stage codegen, as all HOFs are, but
    never Python), no UDF, no shuffle (per-row projection): the shape
    that filters a 100 TB crawl at scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    grams = F.expr(
        "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
        "(x, i) -> concat(x, ' ', split(text, ' ')[i + 1]))"
    )
    mean_len = F.round(
        F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        * F.lit(1.0)
        / n,
        6,
    )
    dup_w = F.round(
        F.lit(1.0) - F.size(F.array_distinct(w)) * F.lit(1.0) / n, 6
    )
    dup_g = F.round(
        F.lit(1.0) - F.size(F.array_distinct(grams)) * F.lit(1.0) / (n - 1),
        6,
    )
    return (
        docs.filter(n > 1)
        .select(
            "doc_id",
            n.cast("int").alias("n_words"),
            mean_len.alias("mean_word_len"),
            dup_w.alias("dup_word_frac"),
            dup_g.alias("dup_2gram_frac"),
        )
        .withColumn(
            "pass_gate",
            F.col("mean_word_len").between(3, 10)
            & (F.col("dup_word_frac") < 0.7)
            & (F.col("dup_2gram_frac") < 0.5),
        )
    )
