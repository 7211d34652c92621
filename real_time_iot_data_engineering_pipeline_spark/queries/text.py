"""Beyond-reference LLM-data-pipeline operators over `documents`:
exact + MinHash/LSH + SimHash + n-gram-Jaccard deduplication, text
statistics, token counting, language-ID heuristic, quality scoring and
document fingerprinting (SURVEY.md §7.2 step 6; VERDICT r01 items 3/5).

Design rules:

- **Portable hashing.** Every hash the oracle must reproduce is an md5/sha256
  HEX STRING (identical in Spark and DuckDB); MinHash minimizes
  lexicographically over hex strings instead of integers, so no engine-
  specific 64-bit hash (xxhash64, murmur) ever enters a comparison.
- **JVM-side only.** All tokenization/shingling/signatures use higher-order
  array functions (transform/filter/aggregate) inside whole-stage codegen —
  zero Python UDFs in the hot path.
- **Planted duplicates.** The driver fixtures are 100% distinct texts, so
  each dedup query derives its corpus as documents UNION a deterministic
  perturbation of a doc_id-keyed subset — the oracle derives the identical
  corpus in SQL, which makes recall itself part of the checked contract.
- **Scale posture.** Dedup is bucketed from day one: MinHash pairs are
  generated per LSH band bucket (never all-pairs), n-gram Jaccard pairs per
  min-shingle anchor bucket.  Per-doc signatures are one projection (no
  shuffle); the only shuffles are the bucket joins on high-cardinality hash
  keys.  At 100 TB the same plan holds: band keys distribute uniformly
  (md5), and candidate sets stay tiny relative to the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fround, fround_sql
from ..functions.tokenize import WS as _WS, WS_CHARS as _WS_CHARS
from ..registry import register
from ..sources import load_table

# ---------------------------------------------------------------------------
# Shared corpus derivations (Spark + DuckDB twins)
# ---------------------------------------------------------------------------

# Exact-dup corpus: every 7th doc re-appears re-cased/re-padded under a new id.
_EXACT_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, '  ' || upper(text) || ' ' AS text
    FROM documents WHERE doc_id % 7 = 0
"""


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" ")).alias("text"),
    )
    return docs.unionByName(dups)


# Near-dup corpus: every 10th doc re-appears with its last two words dropped
# (high-but-not-1.0 Jaccard on 3-word shingles).
_NEAR_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 200000 AS doc_id,
           array_to_string(
               (string_split_regex(trim(text), '{_WS}'))
                   [1:len(string_split_regex(trim(text), '{_WS}')) - 2],
               ' ') AS text
    FROM documents
    WHERE doc_id % 10 = 0 AND len(string_split_regex(trim(text), '{_WS}')) > 4
"""


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim("text"), _WS)
    trunc = F.concat_ws(" ", F.slice(words, 1, F.size(words) - 2))
    dups = docs.filter((F.col("doc_id") % 10 == 0) & (F.size(words) > 4)).select(
        (F.col("doc_id") + 200000).alias("doc_id"), trunc.alias("text")
    )
    return docs.unionByName(dups)


# 3-word shingles over whitespace tokens.  The DuckDB side builds a list per
# doc (guarded: <3 words -> empty, because an unguarded descending
# generate_series would misbehave); the Spark side builds shingle ROWS in
# codegen via posexplode + lead (_shingle_rows below) — same strings.
_SHINGLES_DUCK = (
    "CASE WHEN len(_words) < 3 THEN [] "
    "ELSE list_transform(generate_series(1, len(_words) - 2), "
    "i -> array_to_string(_words[i:i+2], ' ')) END"
)
_WORDS_SPARK = f"split(trim(lower(text)), '{_WS}')"
_WORDS_DUCK = f"string_split_regex(trim(lower(text)), '{_WS}')"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "q_doc_dedup_exact",
    oracle=f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL}),
    hashed AS (
        SELECT doc_id,
               sha256(lower(regexp_replace(trim(text), '{_WS}', ' ', 'g'))) AS content_hash
        FROM corpus
    )
    SELECT content_hash, min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM hashed GROUP BY content_hash
    """,
)
def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact document dedup: sha256 over normalized text (lowercase, trimmed,
    whitespace-collapsed), first-wins on min doc_id.

    Scale: the groupBy key is a uniform 256-bit hash — one perfectly
    distributed shuffle with map-side partial aggregation; no text ever
    shuffles (only the 64-char hash + id)."""
    corpus = _exact_corpus(spark, sf_dir)
    normalized = F.lower(F.regexp_replace(F.trim("text"), _WS, " "))
    return (
        corpus.select("doc_id", F.sha2(normalized, 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup
# ---------------------------------------------------------------------------

_K = 32  # signature length
_BANDS = 8  # 8 bands x 4 rows
_ROWS = _K // _BANDS
_P = 2147483647  # 2^31 - 1; i * (h % P) stays far below 2^63

# One md5 per shingle; its two 60-bit hex halves seed the whole signature
# family g_i = (h1 + i*h2) mod P (the standard 2-universal construction).
# Identical integers on both engines (verified: Spark conv(hex,16,10) ==
# DuckDB ('0x'||hex)::BIGINT).
_H1_SPARK = f"cast(conv(substr(md5(s), 1, 15), 16, 10) AS bigint) % {_P}"
_H2_SPARK = f"cast(conv(substr(md5(s), 17, 15), 16, 10) AS bigint) % {_P}"
_H1_DUCK = f"('0x' || substr(md5(s), 1, 15))::BIGINT % {_P}"
_H2_DUCK = f"('0x' || substr(md5(s), 17, 15))::BIGINT % {_P}"


def _shingle_rows(corpus: DataFrame) -> DataFrame:
    """Exploded (doc_id, s) 3-word shingle rows, built with posexplode +
    lead inside whole-stage codegen — no interpreted higher-order lambdas in
    the hot path (a transform()-built shingle array evaluates its lambda
    per element OUTSIDE codegen, ~10x slower at sf0.1).  One hash shuffle on
    doc_id (high-cardinality) for the lead window."""
    from pyspark.sql import Window

    words = corpus.select(
        "doc_id", F.posexplode(F.expr(_WORDS_SPARK)).alias("pos", "w")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    lead2 = F.lead("w", 2).over(wdoc)
    sh = F.concat_ws(" ", "w", F.lead("w", 1).over(wdoc), lead2)
    return (
        words.select("doc_id", sh.alias("s"), lead2.alias("_l2"))
        .filter(F.col("_l2").isNotNull())
        .drop("_l2")
    )


def _minhash_sigs(shingles: DataFrame) -> DataFrame:
    """(doc_id, sig array<bigint>[K]) via native min aggregates — the
    signature is materialized by the aggregation, so downstream band
    explodes can never re-evaluate the hash work."""
    hs = shingles.select(
        "doc_id", F.expr(_H1_SPARK).alias("h1"), F.expr(_H2_SPARK).alias("h2")
    )
    mins = [
        F.min((F.col("h1") + i * F.col("h2")) % _P).alias(f"m{i}") for i in range(_K)
    ]
    return (
        hs.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"m{i}" for i in range(_K)]).alias("sig"))
    )


_SIG_MINS_DUCK = ", ".join(f"min((h1 + {i} * h2) % {_P}) AS m{i}" for i in range(_K))
_SIG_LIST_DUCK = "[" + ", ".join(f"m{i}" for i in range(_K)) + "]"


_MINHASH_ORACLE = f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (
        SELECT doc_id, {_WORDS_DUCK} AS _words FROM corpus
    ),
    sh AS (
        SELECT doc_id, {_SHINGLES_DUCK} AS _shingles FROM toks
    ),
    expl AS (
        SELECT doc_id, unnest(_shingles) AS s FROM sh
    ),
    hs AS (
        SELECT doc_id, {_H1_DUCK} AS h1, {_H2_DUCK} AS h2 FROM expl
    ),
    sigs AS (
        SELECT doc_id, {_SIG_LIST_DUCK} AS sig
        FROM (SELECT doc_id, {_SIG_MINS_DUCK} FROM hs GROUP BY doc_id)
    ),
    bands AS (
        SELECT doc_id, sig, b.band,
               array_to_string(sig[(b.band * {_ROWS} + 1):(b.band * {_ROWS} + {_ROWS})], '|') AS band_key
        FROM sigs, (SELECT unnest(generate_series(0, {_BANDS - 1})) AS band) b
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM bands a JOIN bands c
          ON a.band = c.band AND a.band_key = c.band_key AND a.doc_id < c.doc_id
    ),
    scored AS (
        SELECT p.doc_a, p.doc_b,
               len(list_filter(generate_series(1, {_K}),
                               i -> sa.sig[i] = sb.sig[i])) / {_K}.0 AS est_jaccard
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.doc_a
        JOIN sigs sb ON sb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b, est_jaccard FROM scored WHERE est_jaccard >= 0.5
    """


@register("q_doc_dedup_minhash", oracle=_MINHASH_ORACLE)
def q_doc_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH near-duplicate detection, bucketed — NEVER all-pairs.

    Per doc: 3-word shingles -> one md5 each -> 32 minhashes from the
    2-universal family (h1 + i*h2) mod P as native min aggregates -> 8 LSH
    bands of 4 rows.  Candidate pairs are generated only inside
    (band, band_key) buckets, deduplicated, then scored by signature
    agreement; pairs with estimated Jaccard >= 0.5 survive.

    Scale: the hash work is one codegen'd pass over exploded shingle rows
    followed by a doc_id-keyed partial aggregation (the signature never
    re-evaluates downstream — the agg materializes it); the band explode is
    x8 over 32-int arrays; the self-join key distributes uniformly, so
    bucket sizes stay tiny (a bucket only grows when documents genuinely
    collide).  Signature arrays (~256 B) ride along the join instead of
    re-joining the corpus — no raw text movement."""
    return _minhash_pairs(spark, sf_dir)


def _banded(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig, band, band_key) LSH band rows: x{_BANDS} explode over
    the 32-int signature; the band_key string is the join/bucket key."""
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(_BANDS - 1))).alias("band"),
    ).withColumn(
        "band_key",
        F.expr(
            f"array_join(transform(slice(sig, band * {_ROWS} + 1, {_ROWS}), "
            "x -> cast(x AS string)), '|')"
        ),
    )


# r13: the matching-slot count is an UNROLLED sum of 32 codegen'd
# equality terms, not a filter-over-sequence lambda — higher-order
# functions evaluate their lambda per element OUTSIDE whole-stage codegen,
# and r12 measured that interpreted 32-slot comparison as the dominant
# per-pair compute in the LSH family (it forced the score-first revert).
# Integer count / 32 is value-identical to the filtered-size form.
_EST_JACCARD_SQL = (
    "cast(("
    + " + ".join(
        f"(CASE WHEN sig_a[{i}] = sig_b[{i}] THEN 1 ELSE 0 END)"
        for i in range(_K)
    )
    + f") AS double) / {_K}"
)


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) near-dup pairs — shared by the pair query
    and the dup-group assignment."""
    sigs = _minhash_sigs(_shingle_rows(_near_corpus(spark, sf_dir)))
    bands = _banded(sigs)
    left = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "band_key"
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "band_key"
    )
    # Score-BEFORE-dedup (re-flipped in r13).  r12 tried this order and
    # reverted it: Catalyst pushes the est >= 0.5 cut INTO the join
    # condition, and with est as an interpreted filter-over-sequence
    # lambda the double evaluation per band-collision candidate cost more
    # than the exchange shrink saved (10x mins 4.04-4.59 dedup-first vs
    # 4.45-5.03 score-first).  r13 unrolled est into 32 codegen'd
    # comparisons (_EST_JACCARD_SQL), which removes the penalty: two-tree
    # interleaved 10x mins now read 5.10 old dedup-first vs 5.52
    # score-first on q_doc_dedup_minhash and 8.92 vs 8.50 on
    # q_minhash_eval — neutral on this host, where shuffle bytes move
    # through the page cache for free.  Score-first is kept because it is
    # the 100 TB shape: the dedup exchange carries (doc_a, doc_b, est) ~24
    # B/candidate instead of two 256 B signatures, and the est >= 0.5 cut
    # drops sub-threshold candidates BEFORE they shuffle.  The est value
    # is pure per-pair, so every band-duplicate copy carries the same
    # number and dropDuplicates stays deterministic (oracle-certified).
    pairs = (
        left.join(right, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("est_jaccard", F.expr(_EST_JACCARD_SQL))
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b", "est_jaccard")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs


# ---------------------------------------------------------------------------
# Incremental cross-run dedup: today's batch vs the standing signature store
# ---------------------------------------------------------------------------

INCR_DELTA_MOD = 4  # doc_id % 4 == 0 simulates "arrived in today's batch"


@register(
    "q_dedup_incremental",
    oracle=f"""
    SELECT doc_a, doc_b, est_jaccard,
           CASE WHEN doc_a % {INCR_DELTA_MOD} = 0
                 AND doc_b % {INCR_DELTA_MOD} = 0
                THEN 'new_new' ELSE 'new_old' END AS pair_kind
    FROM ({_MINHASH_ORACLE})
    WHERE doc_a % {INCR_DELTA_MOD} = 0 OR doc_b % {INCR_DELTA_MOD} = 0
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-run) MinHash dedup — the 100 TB shape batch dedup
    actually runs day to day: only TODAY's documents are shingled and
    signed, and their LSH bands probe the STANDING signature store (the
    persisted band rows of every prior run — here the non-delta corpus
    slice, in production a parquet store bucketed by band_key, grown
    incrementally exactly like the sync watermark pattern in the
    reference's mongo_to_postgres_sync.py:129-139).  Emitted pairs touch
    the delta by construction: new-vs-old (today's doc duplicates an
    archived one) and new-vs-new (duplicates within today's batch, which
    the delta-vs-(store ∪ delta) band join captures twice and the
    normalized-ordering dedup collapses).  Store-vs-store pairs are never
    generated — the store side only ever appears as the build side of the
    band join, so per-run cost tracks |delta| x collision rate, not
    corpus².

    The oracle recomputes full-corpus LSH and restricts to pairs touching
    the delta — equality proves the incremental path finds exactly the
    duplicates a from-scratch rerun would.

    Scale: signatures are ~256 B/doc (0.1% of a 100 TB corpus); the store
    never re-shuffles (bucketed by band_key at write), today's bands
    shuffle once to the store's bucketing, and raw text never moves."""
    # The delta and store legs filter the SAME band rows differently, so
    # their exchanges are non-identical subplans and ReusedExchange cannot
    # fuse them — lazily composed, the shingle->minhash pipeline (the
    # dominant cost) ran once per leg.  One eager checkpoint of the
    # ~256 B/doc signature table bounds it at one pass (r12).
    sigs = _minhash_sigs(
        _shingle_rows(_near_corpus(spark, sf_dir))
    ).localCheckpoint(eager=True)
    bands = _banded(sigs)
    is_new = F.col("doc_id") % INCR_DELTA_MOD == 0
    delta = bands.filter(is_new).select(
        F.col("doc_id").alias("doc_new"),
        F.col("sig").alias("sig_new"),
        "band",
        "band_key",
    )
    store = bands.select(  # standing store ∪ today's rows (post-append view)
        F.col("doc_id").alias("doc_other"),
        F.col("sig").alias("sig_other"),
        "band",
        "band_key",
    )
    pairs = (
        delta.join(store, ["band", "band_key"])
        .filter(F.col("doc_new") != F.col("doc_other"))
        .select(
            F.least("doc_new", "doc_other").alias("doc_a"),
            F.greatest("doc_new", "doc_other").alias("doc_b"),
            F.when(F.col("doc_new") < F.col("doc_other"), F.col("sig_new"))
            .otherwise(F.col("sig_other"))
            .alias("sig_a"),
            F.when(F.col("doc_new") < F.col("doc_other"), F.col("sig_other"))
            .otherwise(F.col("sig_new"))
            .alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        pairs.withColumn("est_jaccard", F.expr(_EST_JACCARD_SQL))
        .filter(F.col("est_jaccard") >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.when(
                (F.col("doc_a") % INCR_DELTA_MOD == 0)
                & (F.col("doc_b") % INCR_DELTA_MOD == 0),
                "new_new",
            )
            .otherwise("new_old")
            .alias("pair_kind"),
        )
    )


@register(
    "q_dedup_exact_incremental",
    oracle=f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL}),
    hashed AS (
        SELECT doc_id,
               sha256(lower(regexp_replace(trim(text), '{_WS}', ' ', 'g'))) AS content_hash
        FROM corpus
    ),
    keepers AS (
        SELECT content_hash, min(doc_id) AS keeper_doc_id FROM hashed GROUP BY content_hash
    )
    SELECT h.doc_id, k.keeper_doc_id,
           CASE WHEN k.keeper_doc_id = h.doc_id THEN 'unique'
                WHEN k.keeper_doc_id % {INCR_DELTA_MOD} = 0 THEN 'dup_in_batch'
                ELSE 'dup_of_store' END AS dup_kind
    FROM hashed h JOIN keepers k ON h.content_hash = k.content_hash
    WHERE h.doc_id % {INCR_DELTA_MOD} = 0
    """,
)
def q_dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-hash twin of q_dedup_incremental — the streaming doc-ingest
    content-hash dedup expressed as a batch delta-vs-store probe: only
    TODAY's documents (doc_id % {INCR_DELTA_MOD} == 0) are hashed and
    verdicted against the standing hash store.  Each delta doc resolves to
    'unique' (its hash is first seen, it becomes the keeper),
    'dup_in_batch' (the keeper also arrived today), or 'dup_of_store'
    (an archived doc already holds the content).

    Scale: the store side is (content_hash, keeper_doc_id) — 72 bytes/doc
    regardless of document size — bucketed by hash at write so the daily
    probe is a co-partitioned join; the delta's text is read once, hashed
    map-side, and never shuffled (only 64-char hashes move).  min-keeper
    semantics make replays idempotent, mirroring the keyed upsert sink."""
    corpus = _exact_corpus(spark, sf_dir)
    normalized = F.lower(F.regexp_replace(F.trim("text"), _WS, " "))
    hashed = corpus.select(
        "doc_id", F.sha2(normalized, 256).alias("content_hash")
    )
    # standing store ∪ today's rows (post-append view): first-writer-wins
    keepers = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("keeper_doc_id")
    )
    delta = hashed.filter(F.col("doc_id") % INCR_DELTA_MOD == 0)
    return delta.join(keepers, "content_hash").select(
        "doc_id",
        "keeper_doc_id",
        F.when(F.col("keeper_doc_id") == F.col("doc_id"), "unique")
        .when(F.col("keeper_doc_id") % INCR_DELTA_MOD == 0, "dup_in_batch")
        .otherwise("dup_of_store")
        .alias("dup_kind"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard on anchor-bucketed candidates
# ---------------------------------------------------------------------------


@register(
    "q_doc_ngram_jaccard",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_WORDS_DUCK} AS _words FROM corpus),
    sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS _shingles FROM toks),
    expl AS (
        SELECT DISTINCT doc_id, s
        FROM (SELECT doc_id, unnest(_shingles) AS s FROM sh)
    ),
    anchored AS (
        SELECT doc_id,
               min(('0x' || substr(md5(s), 1, 15))::BIGINT) AS anchor,
               list(s) AS shingles,
               count(*) AS n
        FROM expl GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.shingles, b.shingles)) AS n_common,
               a.n AS n_a, b.n AS n_b
        FROM anchored a JOIN anchored b
          ON a.anchor = b.anchor AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           {fround_sql("n_common / (n_a + n_b - n_common)")} AS jaccard
    FROM pairs
    WHERE n_common / (n_a + n_b - n_common) >= 0.3
    """,
)
def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over anchor-bucketed candidate pairs.

    Candidates share their min-shingle-hash "anchor" (a 1-band, 1-row LSH —
    two docs with Jaccard j share the anchor with probability ~j), so the
    join is a keyed bucket join, never a cross product.  Jaccard is then
    exact on distinct shingle sets: |A∩B| / (|A| + |B| - |A∩B|).

    Scale: shingles are codegen'd rows (posexplode + lead), hashed once,
    distinct-ed, and folded per doc into (anchor, shingle set) — one shuffle
    keyed by doc_id.  The collect_set ships each doc's distinct shingles
    once (~3x text size); at extreme corpus sizes the intersect step can be
    replaced by joining exploded shingle rows of candidate pairs only."""
    # No pre-distinct: collect_set dedups, min(h) is duplicate-insensitive,
    # and n = |distinct shingles| falls out of the set — one doc_id-keyed
    # shuffle instead of a (doc_id, shingle) distinct shuffle followed by a
    # doc_id shuffle.  Duplicate shingle rows hash twice (cheap codegen md5)
    # to save a full exchange of the shingle stream.
    rows = _shingle_rows(_near_corpus(spark, sf_dir))
    anchored = (
        rows.select(
            "doc_id",
            "s",
            F.expr("cast(conv(substr(md5(s), 1, 15), 16, 10) AS bigint)").alias("h"),
        )
        .groupBy("doc_id")
        .agg(
            F.min("h").alias("anchor"),
            F.collect_set("s").alias("shingles"),
        )
        .withColumn("n", F.size("shingles").cast("long"))
        # Both self-join legs replay the shingle explode + collect_set
        # aggregation (the dominant cost); the legs' exchanges hash
        # different keys (anchor join) so ReusedExchange cannot fuse
        # them.  One eager checkpoint bounds the build at one pass
        # (r12, guide §5; measured win despite the shingle arrays riding
        # the materialization — 1 row/doc, unlike q_minhash_eval's
        # exploded shingle stream where the same move measured slower).
        .localCheckpoint(eager=True)
    )
    a = anchored.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n").alias("n_a"),
        "anchor",
    )
    b = anchored.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n").alias("n_b"),
        "anchor",
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    jac = n_common / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        a.join(b, "anchor")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("_j"))
        .filter(F.col("_j") >= 0.3)
        .select("doc_a", "doc_b", fround(F.col("_j"), 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

# bit i of a word's md5: the digest's first 15 hex chars parse into h1
# (60 bits, nibble 1 most significant) and the 16th into h2, ONCE per word;
# each bit is then an integer shift — no per-bit string ops, no re-hashing.
# Equivalent to reading nibble i//4+1 and taking its (3 - i%4)th bit.
def _bit_spark(i: int) -> str:
    if i < 60:
        shift = (15 - (i // 4 + 1)) * 4 + (3 - i % 4)
        return f"(shiftright(h1, {shift}) % 2)"
    return f"(shiftright(h2, {3 - i % 4}) % 2)"


def _bit_duck(i: int) -> str:
    if i < 60:
        shift = (15 - (i // 4 + 1)) * 4 + (3 - i % 4)
        return f"((h1 >> {shift}) % 2)"
    return f"((h2 >> {3 - i % 4}) % 2)"


_SIM_SUMS_DUCK = ", ".join(f"sum({_bit_duck(i)}) AS s{i}" for i in range(64))
_SIM_CONCAT_DUCK = " || ".join(
    f"(CASE WHEN 2 * s{i} >= n THEN '1' ELSE '0' END)" for i in range(64)
)


@register(
    "q_doc_simhash",
    oracle=f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_WORDS_DUCK} AS _words FROM corpus),
    expl AS (
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 15))::BIGINT AS h1,
               ('0x' || substr(md5(w), 16, 1))::BIGINT AS h2
        FROM (SELECT doc_id, unnest(_words) AS w FROM toks)
    ),
    votes AS (
        SELECT doc_id, count(*) AS n, {_SIM_SUMS_DUCK} FROM expl GROUP BY doc_id
    )
    SELECT doc_id, {_SIM_CONCAT_DUCK} AS simhash FROM votes
    """,
)
def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document as a bitstring: bit i is the majority vote
    of bit i across the md5 of every token occurrence (ties -> 1).
    Near-duplicate texts differ in few bits (Hamming distance), exact
    re-casings collide exactly — the planted upper() duplicates in the
    corpus hash identically because tokens are lowercased first.

    Scale: explode words -> one md5 per word -> 64 native sum aggregates
    with map-side partial aggregation, one doc_id-keyed shuffle of 64 small
    ints per doc.  Grouping by simhash prefix afterwards gives banded
    near-dup buckets for free."""
    corpus = _exact_corpus(spark, sf_dir).withColumn("_words", F.expr(_WORDS_SPARK))
    words = corpus.select("doc_id", F.explode("_words").alias("w")).select(
        "doc_id",
        F.expr("cast(conv(substr(md5(w), 1, 15), 16, 10) AS bigint)").alias("h1"),
        F.expr("cast(conv(substr(md5(w), 16, 1), 16, 10) AS bigint)").alias("h2"),
    )
    votes = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.expr(_bit_spark(i))).alias(f"s{i}") for i in range(64)],
    )
    simhash = F.concat(
        *[
            F.when(2 * F.col(f"s{i}") >= F.col("n"), F.lit("1")).otherwise("0")
            for i in range(64)
        ]
    )
    return votes.select("doc_id", simhash.alias("simhash"))


# ---------------------------------------------------------------------------
# Text statistics / token counting / language ID / quality / fingerprint
# ---------------------------------------------------------------------------


_AVG_WORDS_DUCK = f"avg(len(string_split_regex(trim(lower(text)), '{_WS}')))"


@register(
    "q_text_stats",
    oracle=rf"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           {fround_sql("avg(n_chars)")} AS avg_chars,
           {fround_sql(_AVG_WORDS_DUCK)} AS avg_words,
           CAST(sum(len(string_split_regex(trim(lower(text)), '{_WS}'))) AS BIGINT) AS total_words
    FROM documents GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc/char/word counts (the groupBy key
    is low-cardinality but the aggregate is map-side partial — only
    #langs rows shuffle)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_words", F.expr(_WORDS_SPARK)
    )
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        fround(F.avg("n_chars"), 4).alias("avg_chars"),
        fround(F.avg(F.size("_words")), 4).alias("avg_words"),
        F.sum(F.size("_words")).cast("long").alias("total_words"),
    )


@register(
    "q_token_count",
    oracle=rf"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '{_WS}')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9{_WS_CHARS}]')) AS bpe_ish_tokens,
           n_chars
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish pre-token
    regex (alnum runs | single non-alnum-non-space), the standard byte-pair
    pre-segmentation shape.  Pure projection — embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), _WS)).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit(f"[A-Za-z0-9]+|[^A-Za-z0-9{_WS_CHARS}]"))
        .cast("long")
        .alias("bpe_ish_tokens"),
        "n_chars",
    )


# marker words per language for the n-gram/stopword heuristic; the fixture
# vocabulary is synthetic, so detection skews 'en' — determinism is the
# contract, not linguistic accuracy (decode-quality is judged by tests on
# the scoring mechanics, which are what scale).
_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}


def _marker_score_spark(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return f"size(filter(_words, w -> w IN ({lst})))"


def _marker_score_duck(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return f"len(list_filter(_words, w -> w IN ({lst})))"


@register(
    "q_lang_id",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, lang, {_WORDS_DUCK} AS _words FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               {_marker_score_duck("en")} AS score_en,
               {_marker_score_duck("de")} AS score_de,
               {_marker_score_duck("fr")} AS score_fr,
               {_marker_score_duck("es")} AS score_es
        FROM toks
    )
    SELECT doc_id, lang AS labeled_lang, score_en, score_de, score_fr, score_es,
           CASE
             WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
             WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
             WHEN score_fr >= score_es THEN 'fr'
             ELSE 'es'
           END AS detected_lang
    FROM scored
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: per-language stopword hit counts, argmax with
    a fixed tie-break order (en > de > fr > es).  Pure projection; the
    marker lists live in the plan as literals (broadcast-free)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_words", F.expr(_WORDS_SPARK)
    )
    scores = {lang: F.expr(_marker_score_spark(lang)) for lang in _MARKERS}
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in _MARKERS],
    )
    detected = (
        F.when(
            (F.col("score_en") >= F.col("score_de"))
            & (F.col("score_en") >= F.col("score_fr"))
            & (F.col("score_en") >= F.col("score_es")),
            F.lit("en"),
        )
        .when(
            (F.col("score_de") >= F.col("score_fr"))
            & (F.col("score_de") >= F.col("score_es")),
            F.lit("de"),
        )
        .when(F.col("score_fr") >= F.col("score_es"), F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return scored.withColumn("detected_lang", detected)


_QUALITY_EXPR_DUCK = (
    "least(n_words / 100.0, 1.0) * 0.5"
    " + least(CAST(n_stop AS DOUBLE) / n_words * 5.0, 1.0) * 0.3"
    " + CASE WHEN CAST(n_chars AS DOUBLE) / n_words"
    " BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0.0 END"
)


def quality_score_col():
    """Quality score in [0,1] over a frame carrying `_words` (tokenized via
    _WORDS_SPARK) and `n_chars` — the single Spark-side source of truth for
    the scoring formula (_QUALITY_EXPR_DUCK is its DuckDB twin); shared by
    q_quality_score here and q_quality_buckets in queries/report.py."""
    n_words = F.size("_words").cast("long")
    n_stop = F.expr(_marker_score_spark("en")).cast("long")
    awl = F.col("n_chars").cast("double") / n_words
    stop_ratio = n_stop.cast("double") / n_words
    return (
        F.least(n_words / 100.0, F.lit(1.0)) * 0.5
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + F.when(awl.between(3.0, 10.0), F.lit(0.2)).otherwise(F.lit(0.0))
    )


@register(
    "q_quality_score",
    oracle=rf"""
    WITH feat AS (
        SELECT doc_id, n_chars,
               len(string_split_regex(trim(lower(text)), '{_WS}')) AS n_words,
               len(list_filter(string_split_regex(trim(lower(text)), '{_WS}'),
                               w -> w IN ('the', 'a', 'of', 'and', 'is'))) AS n_stop
        FROM documents
    )
    SELECT doc_id, n_chars, n_words,
           {fround_sql("CAST(n_chars AS DOUBLE) / n_words")} AS avg_word_len,
           {fround_sql("CAST(n_stop AS DOUBLE) / n_words")} AS stopword_ratio,
           {fround_sql(_QUALITY_EXPR_DUCK)} AS quality_score
    FROM feat WHERE n_words > 0
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score in [0,1]: length credit (saturating
    at 100 words), stopword-density credit, and a plausible-word-length
    credit — the standard cheap pre-filter shape for pretraining corpora.
    Pure projection."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_words", F.expr(_WORDS_SPARK)
    )
    n_words = F.size("_words").cast("long")
    n_stop = F.expr(_marker_score_spark("en")).cast("long")
    awl = F.col("n_chars").cast("double") / n_words
    stop_ratio = n_stop.cast("double") / n_words
    score = quality_score_col()
    return docs.filter(n_words > 0).select(
        "doc_id",
        "n_chars",
        n_words.alias("n_words"),
        fround(awl, 4).alias("avg_word_len"),
        fround(stop_ratio, 4).alias("stopword_ratio"),
        fround(score, 4).alias("quality_score"),
    )


@register(
    "q_doc_fingerprint",
    oracle=r"""
    WITH grams AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(length(text) - 7, 1), 4),
                              i -> md5(substr(text, i, 8))) AS hashes
        FROM documents
    )
    SELECT doc_id,
           md5(array_to_string((list_sort(list_distinct(hashes)))[1:8], '')) AS fingerprint
    FROM grams
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: hash char 8-grams at stride 4,
    keep the 8 smallest distinct hashes (a deterministic bottom-k sketch of
    the content), and digest them into one fingerprint.  Shared substrings
    produce overlapping bottom-k sets, so fingerprint collisions signal
    containment/near-duplication.  Pure projection — the sketch is O(1) per
    doc regardless of length."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = F.expr(
        "transform(sequence(1, greatest(length(text) - 7, 1), 4), "
        "i -> md5(substr(text, i, 8)))"
    )
    return docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(F.array_sort(F.array_distinct(hashes)), 1, 8), "")
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Near-dup group assignment (bounded min-label propagation)
# ---------------------------------------------------------------------------

_LP_ROUNDS = 3


def _lp_round_sql(prev: str, cur: str) -> str:
    return f"""{cur} AS (
        SELECT n.doc_id, least(n.lbl, coalesce(min(lnb.lbl), n.lbl)) AS lbl
        FROM {prev} n
        LEFT JOIN edges e ON e.src = n.doc_id
        LEFT JOIN {prev} lnb ON lnb.doc_id = e.dst
        GROUP BY n.doc_id, n.lbl
    )"""


_DUP_GROUPS_ORACLE = (
    f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    nodes AS (
        SELECT doc_id FROM ({_NEAR_CORPUS_SQL})
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    l0 AS (SELECT doc_id, doc_id AS lbl FROM nodes),
    """
    + ",\n    ".join(_lp_round_sql(f"l{i}", f"l{i + 1}") for i in range(_LP_ROUNDS))
    + f"""
    SELECT doc_id, lbl AS dup_group, (doc_id = lbl) AS is_keeper
    FROM l{_LP_ROUNDS}
    """
)


def _lp_round(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """One min-label round: every node takes min(own, neighbors') label."""
    nb = (
        edges.join(
            labels.select(F.col("doc_id").alias("dst"), F.col("lbl").alias("_nlbl")),
            "dst",
        )
        .groupBy("src")
        .agg(F.min("_nlbl").alias("_minnb"))
        .withColumnRenamed("src", "doc_id")
    )
    return labels.join(nb, "doc_id", "left").select(
        "doc_id",
        F.least(F.col("lbl"), F.coalesce(F.col("_minnb"), F.col("lbl"))).alias("lbl"),
    )


@register("q_doc_dup_groups", oracle=_DUP_GROUPS_ORACLE)
def q_doc_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate GROUP assignment: connected components over the
    MinHash/LSH pair graph via bounded min-label propagation — the step a
    dedup pipeline ends with (one canonical `dup_group` id per cluster;
    `is_keeper` marks the document a curator retains).

    Both engines unroll the SAME fixed 3 rounds, so the outputs are
    identical by construction even for components whose diameter exceeds
    the rounds (labels simply haven't converged equally far — the driver
    hash still matches).  With LSH-planted pairs (star components of
    diameter 1) one round already converges; 3 covers short chains.

    Scale: each round is one edge->label equi-join plus a src-keyed
    partial-agg min — O(|E|) per round, |E| near-linear from the LSH
    bucketing, never all-pairs.  The unbounded-diameter production variant
    swaps rounds for the alternating large-star/small-star iteration
    (same join shape per step); the fixed-round form keeps the operator
    deterministic and SQL-oracle-checkable."""
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # Materialize the edge list: every propagation round joins the SAME
    # edges, and without materialization each round re-runs the whole
    # shingle->minhash->LSH pipeline (measured 2.5x slower at sf0.1).
    # Materializing graph state per iteration is the standard Spark
    # iterative-algorithm pattern (GraphX/Pregel do exactly this); |E| is
    # near-linear from the LSH bucketing, so the checkpoint holds two
    # bigints per candidate pair.  Eager localCheckpoint, not .persist():
    # checkpoint blocks go with the plan instead of outliving the query.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    labels = _near_corpus(spark, sf_dir).select(
        "doc_id", F.col("doc_id").alias("lbl")
    )
    for _ in range(_LP_ROUNDS):
        # Each round reads the previous labels TWICE (as node and as
        # neighbor), so an unpersisted chain re-executes round i-1's plan
        # 2x per round — 2^rounds copies of the base by the end.
        # Materializing per round keeps the work O(rounds x |E|), the Pregel
        # contract; footprint is one (doc_id, lbl) pair per node.
        labels = _lp_round(labels, edges).localCheckpoint(eager=True)
    return labels.select(
        "doc_id",
        F.col("lbl").alias("dup_group"),
        (F.col("doc_id") == F.col("lbl")).alias("is_keeper"),
    )


_DUP_GROUPS_CC_ORACLE = f"""
    WITH RECURSIVE
    pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    nodes AS (
        SELECT doc_id FROM ({_NEAR_CORPUS_SQL})
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    )
    SELECT node AS doc_id,
           min(r) AS dup_group,
           (node = min(r)) AS is_keeper
    FROM reach
    GROUP BY node
"""


@register("q_doc_dup_groups_cc", oracle=_DUP_GROUPS_CC_ORACLE)
def q_doc_dup_groups_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-duplicate group assignment: true connected components over
    the MinHash/LSH pair graph via alternating large-star/small-star
    (functions/components.py) — the unbounded-diameter companion to
    q_doc_dup_groups's fixed-3-round form.  dup_group is the minimum doc_id
    of the component (the star-center fixpoint), so a curator's keeper rule
    is identical to the bounded variant's on short components and CORRECT
    (not merely deterministic) on deep chains.

    The oracle is genuinely independent: DuckDB computes min-reachable-id
    per node by recursive transitive closure, a different algorithm family
    from the star iteration — agreement pins exact-CC semantics, not just
    both engines running the same unrolled rounds.

    Scale: each star round is one groupBy-min plus one edge join, O(|E|)
    with partial aggregation, converging in O(log^2 n) rounds independent
    of component diameter; the oracle's closure would be O(n * component)
    and exists only for the fixture-scale comparison."""
    from ..functions.components import connected_components

    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    nodes = _near_corpus(spark, sf_dir).select("doc_id")
    labels = connected_components(
        nodes,
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        id_col="doc_id",
    )
    return labels.select(
        "doc_id",
        F.col("component").alias("dup_group"),
        (F.col("doc_id") == F.col("component")).alias("is_keeper"),
    )


# Declared for plan-analysis-only lints (tests/test_oracle_parity.py):
# calling the function runs the CC fixpoint eagerly, so schema sweeps read
# this instead of invoking it.  Kept honest by the oracle parity run.
q_doc_dup_groups_cc.static_schema = (
    "doc_id bigint, dup_group bigint, is_keeper boolean"
)


# ---------------------------------------------------------------------------
# Incremental connected components: delta docs vs the standing group store
# ---------------------------------------------------------------------------


def fixture_store_path(sf_dir: str, kind: str) -> str:
    """Where _fixture_store keeps the `kind` store of the fixture at
    sf_dir: <tmp>/spark_graft_<kind>/<digest of the documents.parquet
    fingerprint>."""
    import hashlib
    import os
    import tempfile

    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    digest = hashlib.sha1(
        f"{os.path.abspath(sf_dir)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}", digest)


def fixture_stores(sf_dir: str) -> list[str]:
    """Every store of the fixture at sf_dir, of any kind, finished or not.
    A throwaway fixture's stores are never read again once it is gone, so
    its owner removes these."""
    import glob

    return glob.glob(fixture_store_path(sf_dir, "*") + "*")


def _fixture_store(spark: SparkSession, sf_dir: str, kind: str, build):
    """Materialize-once-per-fixture parquet store: `build()` returns the
    DataFrame to persist; the cache key is the documents.parquet
    fingerprint (path + mtime + size), so a regenerated fixture rebuilds.
    The write is atomic (tmp dir + rename) so concurrent first callers
    cannot observe a half-written store.

    BOUNDARY (VERDICT r12 #4/#6): this is cross-run precomputation keyed
    on the fixture, sanctioned ONLY for operators whose registered
    semantics is incremental-vs-standing-store (the store IS the
    operator's input; the oracle still certifies the output against a
    full recompute).  tests/test_incremental_family.py pins the consumer
    set; a first build logs its cost to stderr so the moved work is
    visible in bench/driver artifacts."""
    import os
    import shutil
    import sys
    import time

    path = fixture_store_path(sf_dir, kind)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        t0 = time.perf_counter()
        build().write.mode("overwrite").parquet(tmp)
        print(
            f"[fixture_store] built {kind}/{os.path.basename(path)} in "
            f"{time.perf_counter() - t0:.2f}s (one-time, outside the "
            "incremental operator's timed region by declared semantics)",
            file=sys.stderr,
            flush=True,
        )
        try:
            os.rename(tmp, path)
        except OSError:  # lost the race; the winner's store is identical
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def cc_standing_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing (node, lbl) near-dup component store, MATERIALIZED to
    parquet and read back — the artifact a production daily job persists
    (bucketed by doc_id, 16 B/doc) rather than rebuilding per run.  Built
    once per fixture from the old-old pair graph via the full CC
    fixpoint; every later call is a plain parquet scan.  This keeps the
    benched/driven q_cc_incremental cost the actual incremental
    operation — delta probe + contracted fixpoint — instead of
    store-build + merge (VERDICT r11 #5: the suite's slowest query was
    trending up because the store rebuilt in-query from scratch every
    run)."""
    from ..functions.components import connected_components

    def build():
        old_old = (
            _minhash_pairs(spark, sf_dir)
            .select("doc_a", "doc_b")
            .filter(
                (F.col("doc_a") % INCR_DELTA_MOD != 0)
                & (F.col("doc_b") % INCR_DELTA_MOD != 0)
            )
        )
        return connected_components(
            _near_corpus(spark, sf_dir)
            .select("doc_id")
            .filter(F.col("doc_id") % INCR_DELTA_MOD != 0),
            old_old.select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            ),
            id_col="doc_id",
        ).select(
            F.col("doc_id").alias("node"), F.col("component").alias("lbl")
        )

    return _fixture_store(spark, sf_dir, "cc_store", build).select(
        "node", "lbl"
    )


def cc_band_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing LSH band INDEX of the old corpus — (band, band_key,
    doc_id, sig) rows for every non-delta document — materialized beside
    the label store.  This is the second artifact a production
    incremental dedup job keeps warm: with it, the daily run hashes ONLY
    the delta batch and probes these buckets, so the probe cost is
    proportional to |delta| x collision rate, never to the corpus
    (the q_dedup_incremental posture, now applied to group
    maintenance)."""

    def build():
        old = _near_corpus(spark, sf_dir).filter(
            F.col("doc_id") % INCR_DELTA_MOD != 0
        )
        return _banded(_minhash_sigs(_shingle_rows(old)))

    return _fixture_store(spark, sf_dir, "cc_bands", build)


@register(
    "q_cc_incremental",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    nodes AS (
        SELECT doc_id FROM ({_NEAR_CORPUS_SQL})
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    comp AS (
        SELECT node AS doc_id, min(r) AS dup_group FROM reach GROUP BY node
    ),
    stats AS (
        SELECT dup_group,
               max(CASE WHEN doc_id % {INCR_DELTA_MOD} != 0 THEN 1 ELSE 0 END)
                   AS has_store,
               count(*) AS sz
        FROM comp GROUP BY dup_group
    )
    SELECT c.doc_id, c.dup_group,
           CASE WHEN s.has_store = 1 THEN 'merged_store'
                WHEN s.sz > 1 THEN 'new_new'
                ELSE 'singleton' END AS dup_kind
    FROM comp c JOIN stats s USING (dup_group)
    WHERE c.doc_id % {INCR_DELTA_MOD} = 0
    """,
)
def q_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-duplicate group maintenance — the missing daily
    operation between q_dedup_incremental (delta pair PROBE) and
    q_doc_dup_groups_cc (full-corpus GROUP recompute): merge today's
    documents (doc_id % {INCR_DELTA_MOD} == 0) into the standing component
    store WITHOUT re-running the fixpoint over the corpus.  The standing
    components are CONTRACTED to their label nodes (each label is the min
    doc_id of its standing membership), delta edges are rewritten onto
    {{delta docs}} ∪ {{touched labels}}, and the star fixpoint runs on that
    contracted graph only — its size is proportional to |delta| plus the
    components the delta touches, never to the corpus.  Because every
    standing label is already its component's minimum and contraction
    preserves connectivity, min-id labels on the contracted graph EQUAL
    the labels a full recompute over the union graph would assign — which
    is exactly what the oracle checks: DuckDB runs the full recursive
    transitive closure over the union pair graph (no contraction), so
    agreement proves the incremental algorithm equivalent to the
    recompute, not merely self-consistent.

    Each delta doc resolves to 'merged_store' (its merged component
    absorbs >=1 standing component), 'new_new' (a component formed
    entirely within today's batch), or 'singleton' (no near-dup pairs).

    Scale: BOTH standing artifacts are READ BACK from materialized
    parquet stores (cc_standing_store: the 16 B/doc label table;
    cc_band_store: the old corpus's LSH band index) — exactly what a
    production daily job persists.  The probe hashes ONLY the delta
    batch and joins its bands against the stored index plus itself, so
    the per-run cost is |delta| hashing + |delta| x collision-rate
    bucket joins + a fixpoint over the contracted graph,
    O(log^2 |touched|) rounds of |delta-edge|-sized shuffles.  Text never
    moves; only (doc_id, label) longs ride every exchange."""
    from ..functions.components import connected_components

    corpus_ids = _near_corpus(spark, sf_dir).select("doc_id")

    # --- standing stores: materialized parquet, read back (see helpers) -
    standing = cc_standing_store(spark, sf_dir)
    old_index = cc_band_store(spark, sf_dir)

    # --- delta probe: hash ONLY today's batch, probe the stored index ---
    # Signatures are per-document (shingle -> minhash is row-local), so
    # filtering the corpus to the delta BEFORE hashing yields bit-equal
    # signatures at 1/|corpus-over-delta| of the hash cost.  The sig
    # table feeds the delta-vs-store probe AND the delta-delta self-join;
    # eager localCheckpoint, not .persist(): checkpoint blocks are
    # ContextCleaner-released with the plan (ADVICE r9; same pattern as
    # the fixpoint internals in functions/components.py).
    delta_sigs = _minhash_sigs(
        _shingle_rows(
            _near_corpus(spark, sf_dir).filter(
                F.col("doc_id") % INCR_DELTA_MOD == 0
            )
        )
    ).localCheckpoint(eager=True)
    dbands = _banded(delta_sigs)
    dleft = dbands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        "band",
        "band_key",
    )
    dright = dbands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        "band",
        "band_key",
    )
    oright = old_index.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        "band",
        "band_key",
    )
    # delta-delta pairs keep the natural doc_a < doc_b orientation; the
    # delta-vs-store probe re-orients with least/greatest so the union
    # matches the full-pair filter (delta on EITHER side) exactly.
    dd = dleft.join(dright, ["band", "band_key"]).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    do = (
        dleft.join(oright, ["band", "band_key"])
        .select(
            F.least("doc_a", "doc_b").alias("_a"),
            F.greatest("doc_a", "doc_b").alias("_b"),
            F.when(F.col("doc_a") < F.col("doc_b"), F.col("sig_a"))
            .otherwise(F.col("sig_b"))
            .alias("sig_a2"),
            F.when(F.col("doc_a") < F.col("doc_b"), F.col("sig_b"))
            .otherwise(F.col("sig_a"))
            .alias("sig_b2"),
        )
        .select(
            F.col("_a").alias("doc_a"),
            F.col("_b").alias("doc_b"),
            F.col("sig_a2").alias("sig_a"),
            F.col("sig_b2").alias("sig_b"),
        )
    )
    touch = (
        dd.select("doc_a", "doc_b", "sig_a", "sig_b")
        .unionByName(do)
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("est_jaccard", F.expr(_EST_JACCARD_SQL))
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    la = standing.select(F.col("node").alias("doc_a"), F.col("lbl").alias("lbl_a"))
    lb = standing.select(F.col("node").alias("doc_b"), F.col("lbl").alias("lbl_b"))
    contracted = (
        touch.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("lbl_a", "doc_a").alias("src"),
            F.coalesce("lbl_b", "doc_b").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    delta_nodes = corpus_ids.filter(F.col("doc_id") % INCR_DELTA_MOD == 0)
    nodes2 = (
        delta_nodes.select(F.col("doc_id").alias("id"))
        .unionByName(contracted.select(F.col("src").alias("id")))
        .unionByName(contracted.select(F.col("dst").alias("id")))
        .distinct()
        .select(F.col("id").alias("doc_id"))
    )
    # merged feeds the per-group stats AND the final verdict join; the
    # checkpoint stops both consumers replaying the contracted-graph
    # build (touch x standing joins + the node-set distinct).  Size:
    # |delta| + |touched labels| rows of two longs.
    merged = (
        connected_components(nodes2, contracted, id_col="doc_id")
        .select(F.col("doc_id").alias("node"), F.col("component").alias("grp"))
        .localCheckpoint(eager=True)
    )

    comp_stats = merged.groupBy("grp").agg(
        F.max((F.col("node") % INCR_DELTA_MOD != 0).cast("int")).alias("has_store"),
        F.count("*").alias("sz"),
    )
    return (
        merged.filter(F.col("node") % INCR_DELTA_MOD == 0)
        .join(comp_stats, "grp")
        .select(
            F.col("node").alias("doc_id"),
            F.col("grp").alias("dup_group"),
            F.when(F.col("has_store") == 1, "merged_store")
            .when(F.col("sz") > 1, "new_new")
            .otherwise("singleton")
            .alias("dup_kind"),
        )
    )


# Eager fixpoint (two connected_components calls) — see q_doc_dup_groups_cc.
q_cc_incremental.static_schema = "doc_id bigint, dup_group bigint, dup_kind string"


# ---------------------------------------------------------------------------
# MinHash/LSH evaluation harness: recall on planted pairs, precision vs
# exact Jaccard, estimator error
# ---------------------------------------------------------------------------

# A detected pair counts as a true near-duplicate when its EXACT shingle
# Jaccard clears the same 0.5 bar the estimator gates on.
_EVAL_TRUE_J = "0.5"

_PLANTED_DUCK = f"""
    SELECT doc_id AS doc_a, doc_id + 200000 AS doc_b
    FROM documents
    WHERE doc_id % 10 = 0
      AND len(string_split_regex(trim(text), '{_WS}')) > 4
"""


@register(
    "q_minhash_eval",
    oracle=f"""
    WITH detected AS (SELECT * FROM ({_MINHASH_ORACLE})),
    planted AS ({_PLANTED_DUCK}),
    corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_WORDS_DUCK} AS _words FROM corpus),
    sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS _shingles FROM toks),
    expl AS (
        SELECT DISTINCT doc_id, s
        FROM (SELECT doc_id, unnest(_shingles) AS s FROM sh)
    ),
    sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM expl
        GROUP BY doc_id
    ),
    poi AS (
        SELECT doc_a, doc_b FROM planted
        UNION
        SELECT doc_a, doc_b FROM detected
    ),
    inter AS (
        SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_common
        FROM poi p
        JOIN expl ea ON ea.doc_id = p.doc_a
        JOIN expl eb ON eb.doc_id = p.doc_b AND eb.s = ea.s
        GROUP BY p.doc_a, p.doc_b
    ),
    jac AS (
        SELECT p.doc_a, p.doc_b,
               coalesce(i.n_common, 0)
                   / CAST(sa.n + sb.n - coalesce(i.n_common, 0) AS DOUBLE)
                   AS exact_j
        FROM poi p
        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
    ),
    flags AS (
        SELECT j.doc_a, j.doc_b, j.exact_j,
               d.est_jaccard,
               (d.doc_a IS NOT NULL) AS is_detected,
               (p.doc_a IS NOT NULL) AS is_planted
        FROM jac j
        LEFT JOIN detected d
          ON d.doc_a = j.doc_a AND d.doc_b = j.doc_b
        LEFT JOIN planted p
          ON p.doc_a = j.doc_a AND p.doc_b = j.doc_b
    )
    SELECT
        CAST(sum(CASE WHEN is_planted THEN 1 ELSE 0 END) AS BIGINT)
            AS n_planted,
        CAST(sum(CASE WHEN is_detected THEN 1 ELSE 0 END) AS BIGINT)
            AS n_detected,
        CAST(sum(CASE WHEN is_planted AND is_detected THEN 1 ELSE 0 END)
             AS BIGINT) AS n_planted_detected,
        {fround_sql(
            "sum(CASE WHEN is_planted AND is_detected THEN 1 ELSE 0 END)"
            " / CAST(sum(CASE WHEN is_planted THEN 1 ELSE 0 END) AS DOUBLE)",
            6)} AS recall,
        {fround_sql(
            "sum(CASE WHEN is_detected AND exact_j >= " + _EVAL_TRUE_J +
            " THEN 1 ELSE 0 END)"
            " / CAST(sum(CASE WHEN is_detected THEN 1 ELSE 0 END) AS DOUBLE)",
            6)} AS precision,
        {fround_sql(
            "avg(CASE WHEN is_detected THEN abs(est_jaccard - exact_j) END)",
            6)} AS mean_abs_err
    FROM flags
    """,
)
def q_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation harness for the MinHash/LSH near-dup detector: recall
    against the corpus's PLANTED near-duplicates (every 10th doc re-added
    with its last two words dropped — ground truth by construction),
    precision against exact shingle Jaccard >= {_EVAL_TRUE_J}, and the
    estimator's mean absolute error on detected pairs.  Completes the
    measure-don't-guess family (q_ann_recall evaluates the embedding LSH;
    q_lang_confusion the labeler; this the text LSH) using THE registered
    detector (_minhash_pairs), so the score can never drift from the
    shipped operator.

    Scale: exact Jaccard is computed ONLY for pairs of interest (planted
    union detected) by joining their EXPLODED distinct shingle rows on
    the shingle key and counting matches — the pair-restricted intersect
    path q_doc_ngram_jaccard's docstring names for extreme corpora:
    no collect_set arrays ride the join, every shuffle is keyed
    (doc, shingle, or pair), and the work is |pairs of interest| x
    shingles-per-doc, not corpus-quadratic.  All metrics then fold into
    one row via partial aggregation."""
    # r12 probe note: the lazily-composed plan compiles to 46 parquet
    # scans, but runtime ReusedExchange shares the heavy shingle/signature
    # exchanges across the legs — eager localCheckpoints of `detected`
    # and/or `expl` were MEASURED neutral-to-slower (interleaved A/B,
    # min 3.9 s none vs 4.4 s ckpt; the expl materialization alone cost
    # +1.2 s because the table carries full shingle strings).  Left lazy.
    detected = _minhash_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim("text"), _WS)
    planted = docs.filter(
        (F.col("doc_id") % 10 == 0) & (F.size(words) > 4)
    ).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 200000).alias("doc_b"),
    )
    expl = _shingle_rows(_near_corpus(spark, sf_dir)).distinct()
    sizes = expl.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    poi = planted.unionByName(detected.select("doc_a", "doc_b")).distinct()
    ea = expl.select(F.col("doc_id").alias("doc_a"), "s")
    eb = expl.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        poi.join(ea, "doc_a")
        .join(eb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    jac = (
        poi.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                nc / (F.col("n_a") + F.col("n_b") - nc).cast("double")
            ).alias("exact_j"),
        )
    )
    flags = (
        jac.join(
            detected.withColumnRenamed("est_jaccard", "est"),
            ["doc_a", "doc_b"],
            "left",
        )
        .join(
            planted.withColumn("_p", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .select(
            "exact_j",
            "est",
            F.col("est").isNotNull().alias("is_detected"),
            F.col("_p").isNotNull().alias("is_planted"),
        )
    )
    n_planted = F.sum(F.when(F.col("is_planted"), 1).otherwise(0))
    n_detected = F.sum(F.when(F.col("is_detected"), 1).otherwise(0))
    n_both = F.sum(
        F.when(F.col("is_planted") & F.col("is_detected"), 1).otherwise(0)
    )
    true_j = F.expr(f"CAST({_EVAL_TRUE_J} AS DOUBLE)")
    n_true = F.sum(
        F.when(F.col("is_detected") & (F.col("exact_j") >= true_j), 1)
        .otherwise(0)
    )
    return flags.agg(
        n_planted.cast("long").alias("n_planted"),
        n_detected.cast("long").alias("n_detected"),
        n_both.cast("long").alias("n_planted_detected"),
        fround(n_both / n_planted.cast("double"), 6).alias("recall"),
        fround(n_true / n_detected.cast("double"), 6).alias("precision"),
        fround(
            F.avg(
                F.when(
                    F.col("is_detected"),
                    F.abs(F.col("est") - F.col("exact_j")),
                )
            ),
            6,
        ).alias("mean_abs_err"),
    )


# ---------------------------------------------------------------------------
# Duplicate-group statistics: the curator's dedup report
# ---------------------------------------------------------------------------


@register(
    "q_dup_group_stats",
    oracle=f"""
    WITH groups AS (SELECT * FROM ({_DUP_GROUPS_CC_ORACLE})),
    sizes AS (
        SELECT dup_group, CAST(count(*) AS BIGINT) AS sz
        FROM groups GROUP BY dup_group
    ),
    hist AS (
        SELECT sz AS group_size, CAST(count(*) AS BIGINT) AS n_groups
        FROM sizes GROUP BY sz
    ),
    tot AS (
        SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) AS BIGINT)
                   AS n_removable
        FROM sizes
    )
    SELECT group_size, n_groups,
           CAST(group_size * n_groups AS BIGINT) AS n_docs_in_size,
           {fround_sql(
               "(group_size * n_groups) / CAST(max(tot.n_docs) OVER ()"
               " AS DOUBLE)", 6)} AS doc_fraction,
           {fround_sql(
               "max(tot.n_removable) OVER ()"
               " / CAST(max(tot.n_docs) OVER () AS DOUBLE)", 6)}
               AS corpus_dup_rate
    FROM hist, tot
    ORDER BY group_size
    """,
)
def q_dup_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup report a curator reads before pulling the trigger: the
    duplicate-group SIZE histogram from the exact connected-components
    assignment (the same star fixpoint q_doc_dup_groups_cc labels with),
    the document mass at each size, and the corpus-level duplication rate
    (share of documents a keeper-only policy would drop).

    Scale (r12, guide §2.3/§2.4): the report never materializes the
    per-document label table.  At the star fixpoint every non-center node
    appears as `hi` in exactly ONE (hi, lo=center) row (see
    star_fixpoint), so component sizes are count-per-center + 1 straight
    off the fixpoint edges — |pairs-touched-docs| rows of two longs —
    and the only corpus-wide work is a count(*) over the pruned doc_id
    column for the singleton mass (n_singletons = n_docs - star mass).
    The previous form composed on q_doc_dup_groups_cc's label table,
    paying the corpus-wide left join + a label-keyed shuffle of every
    document; the histogram is identical because labels partition docs
    into exactly (star members + center) groups plus singletons.  The
    corpus totals (doc mass, removable mass) are derived FROM the
    histogram (n_docs = sum sz*n_groups, n_removable = sum
    (sz-1)*n_groups over sz>1), so no table is aggregated a second
    time."""
    from ..functions.components import star_fixpoint

    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    stars = star_fixpoint(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    # Star groups are always size >= 2 (center + >=1 member), so the
    # singleton bucket never collides with a star bucket.
    star_sizes = stars.groupBy("lo").agg(
        (F.count("*") + F.lit(1)).cast("long").alias("sz")
    )
    hist_star = star_sizes.groupBy("sz").agg(
        F.count("*").cast("long").alias("n_groups")
    )
    n_docs_df = _near_corpus(spark, sf_dir).agg(
        F.count("*").cast("long").alias("_n_total")
    )
    star_mass = star_sizes.agg(
        F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("_n_in_stars")
    )
    singleton = (
        n_docs_df.join(F.broadcast(star_mass))
        .select(
            F.lit(1).cast("long").alias("sz"),
            (F.col("_n_total") - F.col("_n_in_stars")).alias("n_groups"),
        )
        .filter(F.col("n_groups") > 0)
    )
    # The distinct-size histogram is tiny and fans into both the corpus
    # totals and the final report row; the checkpoint stops each consumer
    # replaying the aggregation chain (star_sizes is read twice above,
    # both legs over the checkpointed fixpoint edges).
    hist = (
        hist_star.unionByName(singleton)
        .localCheckpoint(eager=True)
    )
    tot = hist.agg(
        F.sum(F.col("sz") * F.col("n_groups")).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("sz") > 1, (F.col("sz") - 1) * F.col("n_groups"))
            .otherwise(0)
        )
        .cast("long")
        .alias("n_removable"),
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").alias("group_size"),
            "n_groups",
            (F.col("sz") * F.col("n_groups")).cast("long").alias(
                "n_docs_in_size"
            ),
            fround(
                (F.col("sz") * F.col("n_groups"))
                / F.col("n_docs").cast("double"),
                6,
            ).alias("doc_fraction"),
            fround(
                F.col("n_removable") / F.col("n_docs").cast("double"), 6
            ).alias("corpus_dup_rate"),
        )
        .orderBy("group_size")
    )


# Plan-analysis-only schema (composes the eager CC fixpoint above).
q_dup_group_stats.static_schema = (
    "group_size bigint, n_groups bigint, n_docs_in_size bigint, "
    "doc_fraction double, corpus_dup_rate double"
)


# ---------------------------------------------------------------------------
# SimHash near-duplicate candidate pairs (Hamming-banded self-join)
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4
# With 64 bits in 4 bands of 16, any pair within Hamming distance
# BANDS - 1 = 3 shares at least one full band (pigeonhole), so the banded
# join has guaranteed recall 1.0 at this threshold — the candidate step is
# EXACT for the reported cutoff, unlike probabilistic MinHash banding.
SIMHASH_HAM_MAX = SIMHASH_BANDS - 1


def _sim_band_expr(k: int) -> str:
    """Band k (16 bits) of the majority-vote simhash as one integer, built
    from the vote counters s{i}/n — identical arithmetic text in Spark SQL
    and DuckDB so both engines band identically by construction."""
    return (
        "("
        + " + ".join(
            f"(CASE WHEN 2 * s{16 * k + j} >= n THEN {1 << (15 - j)} ELSE 0 END)"
            for j in range(16)
        )
        + ")"
    )


_SIM_BANDS_DUCK = ", ".join(
    f"CAST({_sim_band_expr(k)} AS BIGINT) AS b{k}" for k in range(SIMHASH_BANDS)
)
_SIM_HAMMING_DUCK = " + ".join(
    f"bit_count(xor(a.b{k}, b.b{k}))" for k in range(SIMHASH_BANDS)
)
_SIM_BAND_ROWS_DUCK = "\n        UNION ALL\n".join(
    f"        SELECT doc_id, {k} AS band, b{k} AS bv, b0, b1, b2, b3 FROM sigs"
    for k in range(SIMHASH_BANDS)
)


def _sim_band_sigs(corpus: DataFrame) -> DataFrame:
    """corpus(doc_id, text, _words) -> (doc_id, b0..b3): the 64-bit
    majority-vote SimHash as 4 x 16-bit band integers — the one signature
    construction shared by the banded pair join (q_simhash_pairs) and the
    scorecard (q_simhash_eval), so detector and evaluation can never
    drift apart."""
    words = corpus.select("doc_id", F.explode("_words").alias("w")).select(
        "doc_id",
        F.expr("cast(conv(substr(md5(w), 1, 15), 16, 10) AS bigint)").alias("h1"),
        F.expr("cast(conv(substr(md5(w), 16, 1), 16, 10) AS bigint)").alias("h2"),
    )
    votes = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.expr(_bit_spark(i))).alias(f"s{i}") for i in range(64)],
    )
    return votes.select(
        "doc_id",
        *[
            F.expr(f"cast({_sim_band_expr(k)} as bigint)").alias(f"b{k}")
            for k in range(SIMHASH_BANDS)
        ],
    )


@register(
    "q_simhash_pairs",
    oracle=f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_WORDS_DUCK} AS _words FROM corpus),
    expl AS (
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 15))::BIGINT AS h1,
               ('0x' || substr(md5(w), 16, 1))::BIGINT AS h2
        FROM (SELECT doc_id, unnest(_words) AS w FROM toks)
    ),
    votes AS (
        SELECT doc_id, count(*) AS n, {_SIM_SUMS_DUCK} FROM expl GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {_SIM_BANDS_DUCK} FROM votes),
    bands AS (
{_SIM_BAND_ROWS_DUCK}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST({_SIM_HAMMING_DUCK} AS BIGINT) AS hamming
        FROM bands a
        JOIN bands b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM cands
    WHERE hamming <= {SIMHASH_HAM_MAX}
    ORDER BY doc_a, doc_b
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate candidate pairs: 64-bit majority-vote
    signatures split into 4 bands of 16 bits; docs sharing any band value
    are candidates, verified by exact Hamming distance <= 3.  With 4 bands,
    pigeonhole guarantees every pair within distance 3 shares a full band,
    so this plan finds EXACTLY the pairs a quadratic scan would — the
    planted re-cased duplicates land at hamming 0.  Completes the SimHash
    detector path (signatures: q_doc_simhash) the way q_doc_dedup_minhash /
    q_minhash_eval complete MinHash.

    Scale: signatures are 4 small ints per doc; the only data that ever
    shuffles after the signature agg is (band, 16-bit value, 4 ints) x 4
    rows per doc — the self-join keys on (band, bv) with ~2^16 buckets per
    band, and both signatures ride the band rows so Hamming verification
    needs no second join.  At 100 TB the one caveat is a degenerate band
    value shared by a huge doc population (e.g. boilerplate-heavy shards):
    production adds a bucket-size cap before the join, exactly like the
    MinHash path's banded join.  Reference parity: near-dup detection
    family (generator.py duplicate taxonomy).
    """
    # Both self-join legs replay the signature subtree — the token explode
    # plus the 65-aggregate majority vote, the dominant cost — and the two
    # legs' exchanges hash DIFFERENT keys ((band, bv) join vs doc_id agg),
    # so ReusedExchange cannot fuse them.  Eager localCheckpoint runs the
    # vote once; the join reads 5 ints/doc (the q_simhash_eval r12 fix,
    # measured 2.03 -> 1.2 s there).
    sigs = _sim_band_sigs(
        _exact_corpus(spark, sf_dir).withColumn("_words", F.expr(_WORDS_SPARK))
    ).localCheckpoint(eager=True)
    bands = sigs.select(
        "doc_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.expr(
            f"stack({SIMHASH_BANDS}, "
            + ", ".join(f"{k}, b{k}" for k in range(SIMHASH_BANDS))
            + ") as (band, bv)"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = sum(
        F.expr(f"bit_count(a.b{k} ^ b.b{k})") for k in range(SIMHASH_BANDS)
    )
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        # Threshold BEFORE the pair dedup (r12, guide §2.3): hamming is a
        # pure per-pair value, so every band-duplicate copy passes or
        # fails the cut together — identical dropDuplicates result, and
        # non-qualifying candidates never reach the dedup exchange.
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cands.orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Readability scoring (Flesch reading ease)
# ---------------------------------------------------------------------------

# Syllable heuristic: vowel-group runs, plus 1 for each word with no vowel
# at all (digits, initialisms) so no word contributes zero syllables —
# the standard cheap approximation when no pronunciation dict ships.
_SENT_RE = "[.!?]+"
_VOWEL_RE = "[aeiouy]+"


def readability_cols() -> dict[str, "F.Column"]:
    """The Flesch feature columns over a `text` column — shared verbatim by
    the batch query (q_readability) and the streaming ingest annotation
    (streaming/doc_pipeline.py) so the two paths can never disagree."""
    n_words = F.expr(f"size(split(trim(text), '{_WS}'))")
    n_sentences = F.greatest(
        F.lit(1), F.size(F.expr(f"regexp_extract_all(text, '{_SENT_RE}', 0)"))
    )
    n_syllables = F.size(
        F.expr(f"regexp_extract_all(lower(text), '{_VOWEL_RE}', 0)")
    ) + F.size(
        F.expr(
            f"filter(split(trim(lower(text)), '{_WS}'),"
            f" w -> NOT (w rlike '{_VOWEL_RE}'))"
        )
    )
    flesch = fround(
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sentences.cast("double"))
        - F.lit(84.6) * (n_syllables / F.greatest(F.lit(1), n_words).cast("double")),
        4,
    )
    return {
        "n_words": n_words,
        "n_sentences": n_sentences,
        "n_syllables": n_syllables,
        "flesch": flesch,
    }


@register(
    "q_readability",
    oracle=rf"""
    WITH feats AS (
        SELECT doc_id, lang,
               len(string_split_regex(trim(text), '{_WS}')) AS n_words,
               greatest(1, len(regexp_extract_all(text, '{_SENT_RE}')))
                   AS n_sentences,
               len(regexp_extract_all(lower(text), '{_VOWEL_RE}'))
               + len(list_filter(
                     string_split_regex(trim(lower(text)), '{_WS}'),
                     w -> NOT regexp_matches(w, '{_VOWEL_RE}')))
                   AS n_syllables
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, n_words, n_sentences, n_syllables,
               {fround_sql(
                   "206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))"
                   " - 84.6 * (n_syllables / CAST(greatest(1, n_words)"
                   " AS DOUBLE))", 4)} AS flesch
        FROM feats
    )
    SELECT doc_id, lang, n_words, n_sentences, n_syllables, flesch,
           CASE WHEN flesch >= 80 THEN 'easy'
                WHEN flesch >= 60 THEN 'standard'
                WHEN flesch >= 30 THEN 'difficult'
                ELSE 'very_difficult' END AS band
    FROM scored
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document (206.835 - 1.015 x words/sentence
    - 84.6 x syllables/word) from pure column expressions: whitespace
    words, [.!?]+ sentence runs, vowel-group syllables with a +1 floor for
    vowel-less words.  The banding CASE reads the ROUNDED score so the
    easy/standard/difficult cut can never flip between engines on a
    floating-point whisker.  Joins the quality family (q_quality_score,
    q_repetition_filter) as a curation signal a 100 TB text pipeline
    computes on ingest.

    Scale: shuffle-free — three regex counters and arithmetic per row,
    whole-stage codegen, no UDF, no join, no aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    cols = readability_cols()
    scored = docs.select(
        "doc_id",
        "lang",
        cols["n_words"].alias("n_words"),
        cols["n_sentences"].alias("n_sentences"),
        cols["n_syllables"].alias("n_syllables"),
        cols["flesch"].alias("flesch"),
    )
    return scored.withColumn(
        "band",
        F.when(F.col("flesch") >= 80, "easy")
        .when(F.col("flesch") >= 60, "standard")
        .when(F.col("flesch") >= 30, "difficult")
        .otherwise("very_difficult"),
    )


# ---------------------------------------------------------------------------
# Asymmetric containment: excerpt / subset near-duplicates
# ---------------------------------------------------------------------------

# containment >= 0.9 tested as 10*n_common >= 9*n — exact integers, so the
# threshold can never flip on a float whisker between engines
CONTAIN_NUM, CONTAIN_DEN = 9, 10


@register(
    "q_doc_containment",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_WORDS_DUCK} AS _words FROM corpus),
    sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS _shingles FROM toks),
    expl AS (
        SELECT DISTINCT doc_id, s
        FROM (SELECT doc_id, unnest(_shingles) AS s FROM sh)
    ),
    anchored AS (
        SELECT doc_id,
               min(('0x' || substr(md5(s), 1, 15))::BIGINT) AS anchor,
               list(s) AS shingles,
               count(*) AS n
        FROM expl GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
                   AS n_common,
               CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
        FROM anchored a JOIN anchored b
          ON a.anchor = b.anchor AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, n_a, n_b, n_common,
           {fround_sql(
               "greatest(n_common / CAST(n_a AS DOUBLE),"
               " n_common / CAST(n_b AS DOUBLE))")} AS containment,
           {fround_sql("n_common / CAST(n_a + n_b - n_common AS DOUBLE)")}
               AS jaccard,
           CASE WHEN {CONTAIN_DEN} * n_common >= {CONTAIN_NUM} * n_a
                 AND {CONTAIN_DEN} * n_common >= {CONTAIN_NUM} * n_b
                THEN 'mutual'
                WHEN {CONTAIN_DEN} * n_common >= {CONTAIN_NUM} * n_a
                THEN 'a_in_b'
                ELSE 'b_in_a' END AS relation
    FROM pairs
    WHERE {CONTAIN_DEN} * n_common >= {CONTAIN_NUM} * n_a
       OR {CONTAIN_DEN} * n_common >= {CONTAIN_NUM} * n_b
    ORDER BY doc_a, doc_b
    """,
)
def q_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment over anchor-bucketed candidates:
    pairs where >= 90% of EITHER doc's distinct 3-gram shingles appear in
    the other — the detector for excerpts, quotes, and boilerplate
    supersets that symmetric Jaccard misses (a 100-word excerpt of a
    10000-word doc has containment 1.0 but Jaccard ~0.01).  The relation
    column types each hit: 'a_in_b' / 'b_in_a' / 'mutual' (near-identical).
    The planted truncated near-dups surface as perfect 'b_in_a'
    containments of their originals.

    The 0.9 threshold is evaluated as 10 x n_common >= 9 x n in exact
    integers, so hit membership is engine-stable by construction; the
    float containment/jaccard columns are display values, rounded on both
    sides.

    Scale: identical bucketing to q_doc_ngram_jaccard (min-shingle-hash
    anchor, one doc_id-keyed shuffle of distinct shingle sets, keyed
    bucket join — never a cross product).  A subset's anchor survives in
    its superset unless the minimum shingle itself was cut, so excerpt
    recall tracks (n-cut)/n; production stacks more anchor bands exactly
    like the MinHash path."""
    rows = _shingle_rows(_near_corpus(spark, sf_dir))
    anchored = (
        rows.select(
            "doc_id",
            "s",
            F.expr("cast(conv(substr(md5(s), 1, 15), 16, 10) AS bigint)").alias("h"),
        )
        .groupBy("doc_id")
        .agg(
            F.min("h").alias("anchor"),
            F.collect_set("s").alias("shingles"),
        )
        .withColumn("n", F.size("shingles").cast("long"))
        # Same two-leg replay as q_doc_ngram_jaccard: one eager
        # checkpoint runs the shingle build once (r12, guide §5).
        .localCheckpoint(eager=True)
    )
    a = anchored.alias("a")
    b = anchored.alias("b")
    pairs = a.join(
        b,
        (F.col("a.anchor") == F.col("b.anchor"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.size(F.array_intersect("a.shingles", "b.shingles"))
        .cast("long")
        .alias("n_common"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
    )
    hit_a = CONTAIN_DEN * F.col("n_common") >= CONTAIN_NUM * F.col("n_a")
    hit_b = CONTAIN_DEN * F.col("n_common") >= CONTAIN_NUM * F.col("n_b")
    return (
        pairs.filter(hit_a | hit_b)
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_common",
            fround(
                F.greatest(
                    F.col("n_common") / F.col("n_a").cast("double"),
                    F.col("n_common") / F.col("n_b").cast("double"),
                ),
                4,
            ).alias("containment"),
            fround(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
            F.when(hit_a & hit_b, "mutual")
            .when(hit_a, "a_in_b")
            .otherwise("b_in_a")
            .alias("relation"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash detector scorecard (planted near-dups vs background separation)
# ---------------------------------------------------------------------------

_SIM_NEAR_SIGS_DUCK = f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_WORDS_DUCK} AS _words FROM corpus),
    expl AS (
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 15))::BIGINT AS h1,
               ('0x' || substr(md5(w), 16, 1))::BIGINT AS h2
        FROM (SELECT doc_id, unnest(_words) AS w FROM toks)
    ),
    votes AS (
        SELECT doc_id, count(*) AS n, {_SIM_SUMS_DUCK} FROM expl GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {_SIM_BANDS_DUCK} FROM votes)
"""


@register(
    "q_simhash_eval",
    oracle=f"""
    {_SIM_NEAR_SIGS_DUCK},
    planted AS (
        SELECT {_SIM_HAMMING_DUCK} AS ham
        FROM sigs a JOIN sigs b ON b.doc_id = a.doc_id + 200000
    ),
    background AS (
        SELECT {_SIM_HAMMING_DUCK} AS ham
        FROM sigs a JOIN sigs b ON b.doc_id = a.doc_id + 10
        WHERE a.doc_id % 10 = 0 AND a.doc_id < 100000
          AND b.doc_id < 100000
    )
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM planted) AS n_planted,
        (SELECT CAST(sum(CASE WHEN ham <= {SIMHASH_HAM_MAX} THEN 1 ELSE 0 END)
             AS BIGINT) FROM planted) AS n_within_band,
        (SELECT {fround_sql(
            f"sum(CASE WHEN ham <= {SIMHASH_HAM_MAX} THEN 1 ELSE 0 END)"
            " / CAST(count(*) AS DOUBLE)", 4)} FROM planted) AS recall,
        (SELECT {fround_sql("avg(ham)", 4)} FROM planted) AS mean_ham_planted,
        (SELECT {fround_sql("avg(ham)", 4)} FROM background)
            AS mean_ham_background
    """,
)
def q_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scorecard for the SimHash detector against the corpus's planted
    truncated near-duplicates (every 10th doc minus its last two words):
    recall at the hamming <= {SIMHASH_HAM_MAX} band q_simhash_pairs
    reports, plus the mean Hamming distance of planted pairs vs a
    deterministic background sample of unrelated pairs — the separation
    that tells a curator whether the 64-bit signature distinguishes
    near-dups from noise on THIS corpus, the same role q_minhash_eval and
    q_ann_recall play for the MinHash and embedding-LSH detectors.

    Scale: one signature aggregation over the corpus (identical plan to
    q_doc_simhash), then two key-equi joins on derived doc ids — planted
    pairs by construction offset, background by a fixed stride — each
    shuffling only 4 ints per doc; the five summary scalars ride
    single-row subquery aggregates."""
    # The signature table feeds FOUR join legs (planted a/b, background
    # a/b); without materialization each leg's lineage can re-run the full
    # token-explode + 64-bit majority vote whenever ReusedExchange misses
    # (measured: monotonic 1.51 -> 2.03 -> 3.28 s drift across r9-r11 with
    # unchanged code).  EAGER localCheckpoint, not .persist(): checkpoint
    # blocks are ContextCleaner-released when the plan is GC'd — the same
    # pattern (and rationale) as `pairs` in q_cc_incremental above.
    sigs = _sim_band_sigs(
        _near_corpus(spark, sf_dir).withColumn("_words", F.expr(_WORDS_SPARK))
    ).localCheckpoint(eager=True)
    a, b = sigs.alias("a"), sigs.alias("b")
    ham = sum(
        F.expr(f"bit_count(a.b{k} ^ b.b{k})") for k in range(SIMHASH_BANDS)
    ).alias("ham")
    planted = a.join(
        b, F.col("b.doc_id") == F.col("a.doc_id") + 200000
    ).select(ham)
    background = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 10)
        .filter(
            (F.col("a.doc_id") % 10 == 0)
            & (F.col("a.doc_id") < 100000)
            & (F.col("b.doc_id") < 100000)
        )
        .select(ham)
    )
    within = F.sum(
        F.when(F.col("ham") <= SIMHASH_HAM_MAX, 1).otherwise(0)
    )
    p = planted.agg(
        F.count("*").cast("long").alias("n_planted"),
        within.cast("long").alias("n_within_band"),
        fround(within / F.count("*").cast("double"), 4).alias("recall"),
        fround(F.avg("ham"), 4).alias("mean_ham_planted"),
    )
    bg = background.agg(
        fround(F.avg("ham"), 4).alias("mean_ham_background")
    )
    return p.crossJoin(F.broadcast(bg)).select(
        "n_planted",
        "n_within_band",
        "recall",
        "mean_ham_planted",
        "mean_ham_background",
    )


# ---------------------------------------------------------------------------
# Edit-distance refinement of blocked near-dup candidates (round 7)
# ---------------------------------------------------------------------------

ED_VARIANT_OFFSET = 10_000_000  # planted-variant doc_id namespace
ED_VARIANT_MOD = 17  # every 17th doc gets a near-dup variant planted
ED_PREFIX = 64  # refine on the first N chars (bounds the DP cost)
ED_CONFIRM_SIM = 0.6

# Variant = same token count, same first-3 tokens (so it lands in the
# candidate block), 4th token replaced by a fixed marker — the edit
# distance to its base is therefore the original 4th token vs 'qqq',
# different per doc: the refinement verdict is non-trivial and
# oracle-checked, not vacuously green (queries/quality.py plant pattern).
_ED_WS_SPARK = f"split(trim(text), '{_WS}')"
_ED_WS_DUCK = f"string_split_regex(trim(text), '{_WS}')"


@register(
    "q_editdist_refine",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang, trim(text) AS text FROM documents
    ),
    variants AS (
        SELECT doc_id + {ED_VARIANT_OFFSET} AS doc_id, lang,
               array_to_string(
                   list_concat(list_concat(ws[1:3], ['qqq']),
                               ws[5:len(ws)]), ' ') AS text
        FROM (SELECT doc_id, lang, {_ED_WS_DUCK} AS ws FROM base)
        WHERE doc_id % {ED_VARIANT_MOD} = 0 AND len(ws) >= 5
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
    keyed AS (
        SELECT doc_id, lang, text,
               len({_ED_WS_DUCK}) AS n_tokens,
               array_to_string(({_ED_WS_DUCK})[1:3], ' ') AS block3,
               substr(text, 1, {ED_PREFIX}) AS prefix
        FROM corpus
    ),
    pairs AS (
        SELECT a.lang,
               levenshtein(a.prefix, b.prefix) AS dist,
               1.0 - levenshtein(a.prefix, b.prefix)
                   / CAST(greatest(length(a.prefix), length(b.prefix))
                          AS DOUBLE) AS sim
        FROM keyed a JOIN keyed b
          ON a.lang = b.lang AND a.n_tokens = b.n_tokens
         AND a.block3 = b.block3 AND a.doc_id < b.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_candidate_pairs,
           CAST(sum(CASE WHEN {fround_sql("sim", 6)} >= {ED_CONFIRM_SIM}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_confirmed,
           {fround_sql("avg(sim)", 6)} AS avg_sim,
           CAST(min(dist) AS BIGINT) AS min_dist,
           CAST(max(dist) AS BIGINT) AS max_dist
    FROM pairs
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_editdist_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance refinement of blocked near-duplicate candidates: block
    on (lang, token count, first-3 tokens) — content-based blocking, the
    record-linkage classic — then confirm each candidate pair with
    Levenshtein similarity over a {ED_PREFIX}-char prefix, reported per
    language.  This is the exact-verify stage that runs AFTER MinHash/LSH
    recall (q_doc_dedup_minhash) and BEFORE survivor selection
    (q_dedup_survivor): cheap hashes find candidates, edit distance
    adjudicates them.

    Scale: pairs exist only inside (lang, n_tokens, block3) buckets —
    content blocking means bucket population tracks real duplicate
    clusters, not corpus size (measured: 0 natural pairs at sf0.01, 2 at
    sf0.1 + the planted variants), so the join is linear in dup volume.
    The {ED_PREFIX}-char prefix caps each DP at a constant; text itself
    never shuffles (only prefixes and block keys ride the exchange)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.trim("text").alias("text")
    )
    ws = F.expr(_ED_WS_SPARK)
    variants = (
        docs.select("doc_id", "lang", ws.alias("ws"))
        .filter(
            (F.col("doc_id") % ED_VARIANT_MOD == 0) & (F.size("ws") >= 5)
        )
        .select(
            (F.col("doc_id") + ED_VARIANT_OFFSET).alias("doc_id"),
            "lang",
            F.array_join(
                F.expr("concat(slice(ws, 1, 3), array('qqq'), "
                       "slice(ws, 5, size(ws) - 4))"),
                " ",
            ).alias("text"),
        )
    )
    corpus = docs.unionByName(variants)
    keyed = corpus.select(
        "doc_id",
        "lang",
        F.size(ws).alias("n_tokens"),
        F.array_join(F.expr(f"slice({_ED_WS_SPARK}, 1, 3)"), " ").alias(
            "block3"
        ),
        F.substring("text", 1, ED_PREFIX).alias("prefix"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.n_tokens") == F.col("b.n_tokens"))
        & (F.col("a.block3") == F.col("b.block3"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.lang").alias("lang"),
        F.levenshtein("a.prefix", "b.prefix").alias("dist"),
        (
            F.lit(1.0)
            - F.levenshtein("a.prefix", "b.prefix")
            / F.greatest(
                F.length("a.prefix"), F.length("b.prefix")
            ).cast("double")
        ).alias("sim"),
    )
    return (
        pairs.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_candidate_pairs"),
            F.sum((fround(F.col("sim"), 6) >= ED_CONFIRM_SIM).cast("long"))
            .cast("long")
            .alias("n_confirmed"),
            fround(F.avg("sim"), 6).alias("avg_sim"),
            F.min("dist").cast("long").alias("min_dist"),
            F.max("dist").cast("long").alias("max_dist"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Corpus assembly under a token budget (round 8)
# ---------------------------------------------------------------------------

BUDGET_NUM, BUDGET_DEN = 6, 10  # admit the best docs up to 60% of all tokens


@register(
    "q_token_budget_pack",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_WORDS_DUCK} AS ws FROM documents
    ),
    scored AS (
        SELECT doc_id, source, len(ws) AS n_tokens,
               len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE) AS ttr
        FROM toks WHERE len(ws) > 0
    ),
    run AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (
                   ORDER BY ttr DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum,
               sum(n_tokens) OVER () AS total
        FROM scored
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_admitted,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_admitted
    FROM run
    WHERE cum * {BUDGET_DEN} <= total * {BUDGET_NUM}
    GROUP BY source
    ORDER BY source
    """,
)
def q_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus assembly under a global token budget: rank every document by
    a quality proxy (type-token ratio — dedup-style repetition scores low),
    admit greedily in rank order until the budget ({BUDGET_NUM}/{BUDGET_DEN}
    of all corpus tokens) is exhausted, and report the per-source admitted
    mix — the final packing decision a training-data pipeline makes after
    filtering/dedup, deciding WHICH clean documents fill the token budget.
    (q_token_budget_plan is the upstream twin: it ALLOCATES the budget
    across sources by mixture weight; this query ADMITS individual
    documents by quality rank and reports the realized mix.)

    Exactness: token counts are integers, so the running sum is exact (no
    float regrouping concern), and the admission test is kept in integer
    arithmetic (cum*{BUDGET_DEN} <= total*{BUDGET_NUM}) — no float
    threshold to disagree across engines.  TTR is an exact IEEE division
    of two small ints, identical in both engines, so the global order is
    identical.

    Scale: the global ordered cumulative sum uses the two-phase bucketed
    prefix plan (functions/prefix.py) above the adaptive scale switch —
    value-range buckets partition the window, per-bucket offsets prefix-sum
    on a ≤1024-row table, and no SinglePartition exchange appears; below
    the switch the plain window is cheaper and taken instead."""
    from ..functions.prefix import bucketed_running_sum
    from ..sources.tables import is_large_input

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ws = F.expr(_WORDS_SPARK)
    scored = (
        docs.select(
            "doc_id",
            "source",
            F.size(ws).cast("long").alias("n_tokens"),
            (F.size(F.array_distinct(ws)).cast("double") / F.size(ws)).alias(
                "ttr"
            ),
        )
        .filter(F.col("n_tokens") > 0)
    )
    total = scored.agg(F.sum("n_tokens").alias("_total"))
    run = bucketed_running_sum(
        scored,
        "ttr",
        "n_tokens",
        ["doc_id"],
        descending=True,
        out_col="cum",
        bucketed=is_large_input(sf_dir, "documents"),
    ).join(F.broadcast(total))
    return (
        run.filter(
            F.col("cum").cast("long") * BUDGET_DEN
            <= F.col("_total").cast("long") * BUDGET_NUM
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_admitted"),
            F.sum("n_tokens").cast("long").alias("tokens_admitted"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# N-gram novelty of the incoming batch vs the standing corpus (round 8)
# ---------------------------------------------------------------------------


@register(
    "q_batch_novelty",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_WORDS_DUCK} AS _words FROM documents
    ),
    sh AS (
        SELECT doc_id, source, {_SHINGLES_DUCK} AS _shingles FROM toks
    ),
    expl AS (
        SELECT DISTINCT doc_id, source, s
        FROM (SELECT doc_id, source, unnest(_shingles) AS s FROM sh)
    ),
    store AS (
        SELECT DISTINCT s FROM expl WHERE doc_id % {INCR_DELTA_MOD} <> 0
    ),
    delta AS (
        SELECT e.doc_id, e.source, e.s,
               CASE WHEN st.s IS NULL THEN 1 ELSE 0 END AS novel
        FROM expl e LEFT JOIN store st ON e.s = st.s
        WHERE e.doc_id % {INCR_DELTA_MOD} = 0
    ),
    per_doc AS (
        SELECT doc_id, source,
               sum(novel) / CAST(count(*) AS DOUBLE) AS novelty
        FROM delta GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {fround_sql("avg(novelty)", 6)} AS avg_novelty
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def q_batch_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-value estimation for an incoming batch: what fraction of each
    new document's distinct 3-word shingles has the standing corpus never
    seen?  Low novelty batches add little training signal even when they
    are not literal duplicates — this is the acquisition-side metric that
    complements q_dedup_incremental's removal-side verdicts (and the
    cross-RUN sibling of q_ngram_novelty's train/test split-time form).  Rolled up to
    (source, n_docs, avg_novelty).

    Scale: both sides reduce to DISTINCT shingle keys before the join; the
    store side is the corpus-wide distinct-shingle table (bounded by
    vocabulary growth, not corpus size — Heaps' law), the probe side is
    delta-only, and the novelty test is a left join on the shingle key —
    at full scale the join key is the shingle's 64-bit hash and a bloom
    filter on the store prunes the probe before the shuffle."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    sh = _shingle_rows(docs).dropDuplicates(["doc_id", "s"])
    src = docs.select("doc_id", "source")
    is_delta = F.col("doc_id") % INCR_DELTA_MOD == 0
    store = sh.filter(~is_delta).select("s").distinct()
    delta = (
        sh.filter(is_delta)
        .join(store.withColumn("_seen", F.lit(1)), "s", "left")
        .select("doc_id", F.when(F.col("_seen").isNull(), 1).otherwise(0).alias("novel"))
    )
    per_doc = delta.groupBy("doc_id").agg(
        (F.sum("novel") / F.count("*").cast("double")).alias("novelty")
    )
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            fround(F.avg("novelty"), 6).alias("avg_novelty"),
        )
        .orderBy("source")
    )
