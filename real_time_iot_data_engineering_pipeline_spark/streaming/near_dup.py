"""Streaming MinHash/LSH near-duplicate detection — the near-dup twin of
the doc ingest's exact content-hash dedup
(doc_pipeline.py::ingest_doc_stream), closing the round-8
incremental-dedup story across BOTH execution modes: the batch
side is q_dedup_incremental (today's bands probe the standing signature
store); this is the same probe running continuously, with the "standing
store" living in streaming state.

Shape: a stateless JVM projection computes each document's 32-slot
MinHash signature and explodes it into 8 LSH band rows (the signature
family is BIT-IDENTICAL to the batch queries' — md5 hex halves,
g_i = (h1 + i*h2) mod P over 3-word shingles — pinned by a golden test
against the batch plan), then a stateful fold keyed by the band key
(`_bucket_fold`, behind stateful.py's group_fold) holds each bucket's
recent signatures and emits a candidate pair the moment a new document
collides with a stored one at estimated Jaccard >= {PAIR_MIN_EST}.

The signature stage is pure column expressions (round 9; previously a
per-doc Python md5 loop inside mapInPandas — the one row-at-a-time-ish
Python stage on the hot ingest path).  The batch plan's posexplode+lead
shingling (queries/text.py:_shingle_rows) needs a window function, which
streaming forbids, so the stream folds the SAME hash family per row:
shingles via transform(sequence(...)), one md5 each, then
aggregate(...) min-folds all 32 slots in a single pass over the shingle
array.  Higher-order lambdas evaluate interpreted (outside codegen), but
stay JVM-side with zero Python serialization; Python now runs ONLY in the
stateful band store, which has no JVM alternative.

Emission semantics: at-least-once PER BAND — a pair colliding in several
bands is emitted once per colliding band (each band bucket is an
independent key group; cross-band dedup would need a second stateful
operator).  Consumers take DISTINCT (doc_a, doc_b) or feed the keyed
idempotent sink, exactly like the batch path's dropDuplicates.

Scale/state bounds: state per bucket is at most BUCKET_CAP (signature,
doc_id) pairs (drop-oldest — md5-uniform band keys mean a bucket only
grows past a handful when documents genuinely collide), evicted wholesale
by the event-time timeout once the watermark passes idle + TTL.  Each
micro-batch shuffles band rows by band_key — ~256 B of signature per row,
never the text.
"""

from __future__ import annotations

import hashlib
import json
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.tokenize import WS as _WS
from ..queries.text import _BANDS, _K, _P, _ROWS, _WORDS_SPARK
from .stateful import apply_group_fold, group_fold

PAIR_MIN_EST = 0.5  # same survivor threshold as q_doc_dedup_minhash
BUCKET_CAP = 64  # max signatures retained per band bucket (drop-oldest)
TTL_MS = 30 * 60 * 1000  # evict buckets idle for 30 min past the watermark


def minhash_signature(text: str) -> list[int] | None:
    """The batch signature family in pure Python
    (queries/text.py::_shingle_rows and _minhash_sigs):
    3-word shingles over split(trim(lower(text)), the shared WS class), one md5 per
    shingle, h1/h2 = the 15-hex-char halves, slot i = min (h1 + i*h2) % P.
    Returns None for documents with fewer than 3 words (the batch plan
    produces no shingle rows for them either).

    REFERENCE TWIN ONLY: the stream computes signatures with the JVM
    expression below (_SIG_SQL); this Python form exists so the golden
    tests can pin all three members of the family (batch plan, stream
    plan, readable spec) against each other."""
    words = re.split(_WS, text.strip().lower()) if text and text.strip() else []
    if len(words) < 3:
        return None
    sig = [_P] * _K
    for j in range(len(words) - 2):
        h = hashlib.md5(" ".join(words[j : j + 3]).encode("utf-8")).hexdigest()
        h1 = int(h[:15], 16) % _P
        h2 = int(h[16:31], 16) % _P
        for i in range(_K):
            g = (h1 + i * h2) % _P
            if g < sig[i]:
                sig[i] = g
    return sig


# Per-row 32-slot signature over a `_words` array column: 3-word shingles ->
# one md5 each -> fold min((h1 + i*h2) % P) across all K slots in ONE pass
# over the shingle array (aggregate's merge visits each shingle once; the
# md5/conv work lives in the aggregate's input expression, evaluated once).
# Bit-identical to the batch family (queries/text.py:_minhash_sigs): same
# word split, same md5 hex halves, same mod-P arithmetic; the batch min
# aggregate over >=1 shingle always lands below the P initializer.
_SIG_SQL = f"""
aggregate(
  transform(
    transform(
      transform(sequence(0, size(_words) - 3),
                j -> concat_ws(' ', _words[j], _words[j + 1], _words[j + 2])),
      s -> md5(s)),
    h -> struct(cast(conv(substr(h, 1, 15), 16, 10) AS bigint) % {_P} AS h1,
                cast(conv(substr(h, 17, 15), 16, 10) AS bigint) % {_P} AS h2)),
  array_repeat(cast({_P} AS bigint), {_K}),
  (acc, x) -> transform(acc, (a, i) -> least(a, (x.h1 + i * x.h2) % {_P})))
"""


def banded_rows(docs: DataFrame, ts_col: str = "ts") -> DataFrame:
    """(doc_id, text, <ts_col>) -> (band_key, doc_id, ts, sig_json): the
    stream's stateless signature stage, pure JVM column expressions.

    band_key embeds the band index ('<band>:<slot|slot|...>') so each LSH
    band is its own state key group, matching the batch band join key;
    sig_json is the compact-JSON signature the stateful stage parses.
    Documents with fewer than 3 words produce no rows (the batch plan
    yields no shingle rows for them either).  The explode sits ABOVE the
    signature projection, so the fold runs once per document, not once per
    band row (CollapseProject cannot push band_key's expression through
    the Generate node)."""
    sig_strs = F.col("_sig").cast("array<string>")
    return (
        docs.select("doc_id", F.col(ts_col).alias("ts"), "text")
        .select("doc_id", "ts", F.expr(_WORDS_SPARK).alias("_words"))
        .filter(F.size("_words") >= 3)
        .select("doc_id", "ts", F.expr(_SIG_SQL).alias("_sig"))
        .select(
            "doc_id",
            "ts",
            F.concat(F.lit("["), F.array_join(sig_strs, ","), F.lit("]")).alias(
                "sig_json"
            ),
            sig_strs.alias("_sig_s"),
            F.explode(F.sequence(F.lit(0), F.lit(_BANDS - 1))).alias("_band"),
        )
        .select(
            F.concat_ws(
                ":",
                F.col("_band"),
                F.array_join(
                    F.slice("_sig_s", F.col("_band") * _ROWS + F.lit(1), _ROWS), "|"
                ),
            ).alias("band_key"),
            "doc_id",
            "ts",
            "sig_json",
        )
    )


PAIR_SCHEMA = T.StructType(
    [
        T.StructField("doc_a", T.LongType()),
        T.StructField("doc_b", T.LongType()),
        T.StructField("est_jaccard", T.DoubleType()),
        T.StructField("band", T.IntegerType()),
    ]
)

# state: the bucket's retained members, newest last
STATE_SCHEMA = "doc_ids string, sigs string"


def _bucket_fold(cap: int, ttl_ms: int):
    def step(key, prior, rows):
        (band_key,) = key
        band = int(band_key.split(":", 1)[0])
        doc_ids, sigs = (json.loads(js) for js in prior)
        known = set(doc_ids)
        out = {"doc_a": [], "doc_b": [], "est_jaccard": [], "band": []}
        for doc_id, sj in zip(rows["doc_id"].tolist(), rows["sig_json"]):
            if doc_id in known:
                continue  # replay of a member (at-least-once source)
            sig = json.loads(sj)
            for other_id, other_sig in zip(doc_ids, sigs):
                est = sum(1 for a, b in zip(sig, other_sig) if a == b) / _K
                if est >= PAIR_MIN_EST:
                    out["doc_a"].append(min(doc_id, other_id))
                    out["doc_b"].append(max(doc_id, other_id))
                    out["est_jaccard"].append(est)
                    out["band"].append(band)
            doc_ids.append(doc_id)
            sigs.append(sig)
            known.add(doc_id)
        # drop-oldest: bound state per bucket
        new_state = (
            json.dumps(doc_ids[-cap:], separators=(",", ":")),
            json.dumps(sigs[-cap:], separators=(",", ":")),
        )
        return new_state, pd.DataFrame(out)

    # deterministic intra-batch order: event time, then doc id; an idle
    # bucket is evicted ttl_ms past its last event
    return group_fold(step, ("[]", "[]"), ttl_ms=ttl_ms, order=("ts", "doc_id"))


def near_dup_stream(
    docs: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 minute",
    cap: int = BUCKET_CAP,
    ttl_ms: int = TTL_MS,
) -> DataFrame:
    """Wire the two stages onto a streaming (doc_id, text, <ts_col>) frame:
    signature/band explode (stateless JVM projections) -> watermark ->
    per-band stateful bucket probe.  Returns the candidate-pair stream."""
    banded = banded_rows(docs, ts_col).withWatermark("ts", watermark)
    return apply_group_fold(
        banded, "band_key", _bucket_fold(cap, ttl_ms), PAIR_SCHEMA, STATE_SCHEMA
    )
