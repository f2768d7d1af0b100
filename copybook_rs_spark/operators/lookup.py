"""Doc-id point lookup over an encoded chunk table.

The reference answers "give me these records" by decoding the whole file
and filtering (crates/copybook-cli/src/commands/decode.rs drives a full
scan; crates/copybook-core/src/projection.rs:48 narrows WIDTH, not rows).
On a 100 TB chunk table a full decode for a handful of doc ids is the one
access pattern the encode layout can already beat — this module is the
row-skipping counterpart of `filter_chunks_by_token_range`'s data-skipping
contract, built from metadata the chunk table has carried since v1:

1. **Zone map.** Docs within a (source, part_id) group are sorted by
   doc_id before chunking (plans/partition.py::repartition_for_encode) and
   chunks are cut at doc boundaries, so per part the chunks'
   `first_doc_id` ascend with `chunk_seq` and chunk k holds exactly the
   docs in [first_k, first_{k+1}] (right edge inclusive: duplicate doc_ids
   may span a cut). `lead(first_doc_id)` over the METADATA columns — the
   blob column is never read for pruning — brackets every key to at most
   two chunks per part. Comparisons happen in Spark, under the same binary
   string collation that ordered the encode sort, so the bracket is exact.

2. **Salt-plan recovery.** part_id = pmod(xxhash64(doc_id, 42), S(source))
   (plans/partition.py::with_part_id), so knowing S collapses the search
   from every part of a source to the ONE part the key hashes to.  S is
   not persisted, but every chunk carries a witness: `first_doc_id` is a
   real doc of its part, so S must satisfy
   pmod(xxhash64(first_doc_id, 42), S) == part_id for EVERY chunk.
   `recover_salt_plan` searches the smallest S >= max(part_id)+1 that
   satisfies a per-source sample of those constraints (hashes computed by
   Spark itself, so no reimplementation skew), then certifies the winner
   against ALL chunks of the source in one metadata-only job.  A source
   that fails certification (hand-built part ids, ambiguous sample) is
   simply left out of the plan and falls back to the all-parts bracket —
   slower, never wrong.

At scale: with a known salt plan a request is ONE metadata query plus one
decode. The query scans only the five narrow metadata columns in a single
window pass and collects just the rows that hit a key (short key lists
enter as literal predicates) or break the precondition below, checked over
the whole table. The hit ids reach the blob scan as a pushed
`In(chunk_id)` filter, so parquet row-group stats skip every other chunk's
bytes; past the collect cap they stay a semi-join (blobs read, never
decoded).

Precondition (documented, and guarded where detectable): the chunk table
must come from ONE encode run (or a lossless compaction of one).  A union
of independent runs interleaves doc ranges within a part and breaks the
zone map; lookups and mutations raise a typed PipelineContractError on
the detectable symptoms (duplicate chunk_seq, first_doc_id out of order).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from copybook_rs_spark.errors import PipelineContractError
from copybook_rs_spark.plans.partition import salt_hash, salt_mapping

_META_COLS = ("chunk_id", "source", "part_id", "chunk_seq", "first_doc_id")
# Collected-candidate cap: below it the chunk_id list rides into the scan
# as a pushed In() filter; above it we keep the ids distributed.
_MAX_COLLECTED = 100_000
# Key lists up to this size enter the metadata query as literal
# predicates; longer lists (and DataFrame keys) join as a broadcast relation.
_MAX_LITERAL_KEYS = 128
_SEARCH_BLOCK = 1 << 16


def prune_to_candidates(
    chunk_df: DataFrame, cand: DataFrame, max_collected: int = _MAX_COLLECTED
) -> DataFrame:
    """Push a candidate chunk_id set into the chunk table's scan — the one
    place the collect-vs-semijoin pushdown policy lives (lookup_docs and
    the extras zone map both prune through it). Small sets are collected
    into a driver-side In() filter that reaches the parquet row-group
    stats, so skipped chunks' blob bytes are never read; sets past
    max_collected stay distributed as a left-semi join (blobs read, never
    decoded). cand: any DataFrame with a chunk_id column."""
    cand = cand.select("chunk_id")
    ids = [r["chunk_id"] for r in cand.limit(max_collected + 1).collect()]
    return _prune(chunk_df, cand if len(ids) > max_collected else ids)


def _prune(chunk_df: DataFrame, cand) -> DataFrame:
    """cand: collected chunk ids (In() filter) or a chunk_id DataFrame."""
    if isinstance(cand, DataFrame):
        return chunk_df.join(cand.select("chunk_id"), "chunk_id", "left_semi")
    return chunk_df.where(F.col("chunk_id").isin(cand)) if cand else chunk_df.limit(0)


def recover_salt_plan(
    chunk_df: DataFrame,
    max_salt: int = 1 << 21,
    n_samples: int = 64,
) -> dict[str, int]:
    """Recover S(source) — the encode-time salt factor — from the chunk
    table itself. Returns only sources whose recovered S is certified by
    every chunk of that source; uncertifiable sources are omitted (callers
    fall back to the all-parts bracket, which needs no S).

    Cost: three metadata-only collects (two bounded by n_samples x
    n_sources, one certification pass; ~5 Spark jobs) — more than a whole
    lookup. Pass the result back into lookup_docs(salts=...) to amortize
    across repeated lookups."""
    meta = chunk_df.select("source", "part_id", "chunk_seq", "first_doc_id")
    maxima = meta.groupBy("source").agg(F.max("part_id")).collect()
    # One witness per (source, part): the first chunk of parts 0..n_samples-1.
    # Those parts are non-empty whenever S is large (big S <=> big data), so
    # the sample constrains S from many residues at once.
    samples = meta.where((F.col("chunk_seq") == 0) & (F.col("part_id") < n_samples))
    by_src: dict[str, list[tuple[int, int]]] = {}
    for r in samples.select("*", salt_hash("first_doc_id").alias("h")).collect():
        by_src.setdefault(r["source"], []).append((int(r["h"]), int(r["part_id"])))
    plan: dict[str, int] = {}
    for src, mp in maxima:
        if src not in by_src:
            continue
        hs, ps = np.array(by_src[src], dtype=np.int64).T
        for start in range(mp + 1, max_salt + 1, _SEARCH_BLOCK):
            stop = min(start + _SEARCH_BLOCK, max_salt + 1)
            cands = np.arange(start, stop, dtype=np.int64)
            # np.int64 % positive divisor is Python-signed == Spark pmod
            ok = np.all(hs[None, :] % cands[:, None] == ps[None, :], axis=1)
            idx = np.nonzero(ok)[0]
            if idx.size:
                plan[src] = int(cands[idx[0]])
                break
    if not plan:
        return {}
    # Certify against EVERY chunk of the claimed sources in one job: a
    # wrong S (ambiguous sample / foreign partitioner) leaves residues
    # that disagree somewhere; one disagreement disqualifies the source.
    wrong = F.pmod(
        salt_hash(F.col("first_doc_id")), salt_mapping(plan)[F.col("source")]
    ) != F.col("part_id")
    bad = meta.where(F.col("source").isin(list(plan)) & wrong).select("source")
    for r in bad.distinct().collect():
        del plan[r["source"]]
    return plan


def _normalize_keys(chunk_df: DataFrame, keys):
    """-> (ids, kdf, had_source). ids: sorted distinct doc ids of a key
    list (None for DataFrame keys). kdf: the keys as a relation, only for
    DataFrame keys and lists past _MAX_LITERAL_KEYS."""
    if isinstance(keys, DataFrame):
        if "doc_id" not in keys.columns:
            raise PipelineContractError(
                f"lookup keys must have a doc_id column (got {sorted(keys.columns)})"
            )
        cols = [c for c in ("source", "doc_id") if c in keys.columns]
        return None, keys.select(*cols).distinct(), len(cols) == 2
    ids = sorted({str(k) for k in keys})
    if len(ids) <= _MAX_LITERAL_KEYS:
        return ids, None, False
    rel = [(i,) for i in ids]
    return ids, chunk_df.sparkSession.createDataFrame(rel, "doc_id string"), False


def _bracketed_meta(chunk_df: DataFrame, validate: bool) -> DataFrame:
    """Chunk metadata + ONE window pass per (source, part_id): the zone-map
    right edge `__next_first` and `__bad`, the single-run precondition's
    detectable half (chunk_seq repeats or first_doc_id descends).
    validate=True checks the whole table eagerly."""
    w = Window.partitionBy("source", "part_id").orderBy("chunk_seq")
    bad = (F.col("chunk_seq") == F.lag("chunk_seq").over(w)) | (
        F.col("first_doc_id") < F.lag("first_doc_id").over(w)
    )
    meta = chunk_df.select(
        *_META_COLS,
        F.coalesce(bad, F.lit(False)).alias("__bad"),
        F.lead("first_doc_id").over(w).alias("__next_first"),
    )
    if validate:
        _raise_if_bad(meta.where("__bad").take(1))
    return meta


def _raise_if_bad(rows) -> None:
    for r in rows:
        if r["__bad"]:
            raise PipelineContractError(
                "chunk table violates the single-encode-run layout lookup "
                f"relies on: group ({r['source']!r}, part {r['part_id']}) "
                f"has chunk_seq {r['chunk_seq']} with first_doc_id "
                f"{r['first_doc_id']!r} out of order — was this table a "
                "union of independent encode runs? Decode + filter instead."
            )


def _hit_rows(meta: DataFrame, ids, kdf, had_source, salts) -> DataFrame:
    """meta rows with `__k_doc` set per (chunk, key) zone-map hit, null
    otherwise. Certified sources also need the key's hash part,
    pmod(salt_hash(key), S[source]) == part_id, tested against the chunk's
    OWN source, so keys need no per-source expansion."""
    salts = {s: v for s, v in (salts or {}).items() if v and v > 0}
    mapping = salt_mapping(salts)

    def hit(doc):
        got = (F.col("first_doc_id") <= doc) & (
            F.col("__next_first").isNull() | (F.col("__next_first") >= doc)
        )
        if not salts or kdf is not None:  # relation keys: part via equi-join
            return got
        part = F.pmod(salt_hash(doc), mapping[F.col("source")])
        return got & (~F.col("source").isin(list(salts)) | (part == F.col("part_id")))

    no_key = F.lit(None).cast("string")
    if kdf is None:  # literal keys: each key's salt hash folds at plan time
        found = F.array(*[F.when(hit(F.lit(i)), F.lit(i)) for i in ids], no_key)
        return meta.withColumn("__k_doc", F.explode_outer(F.array_compact(found)))
    k = kdf.select(F.col("doc_id").alias("__k_doc"),
                   *([F.col("source").alias("__k_src")] if had_source else []))
    src_eq = F.col("source") == F.col("__k_src")
    rows, rest, joins = meta.withColumn("__k_doc", no_key), meta, []
    if salts:  # certified keys equi-join their one hash part
        srcs = F.explode(F.array(*map(F.lit, sorted(salts))))
        kc = k if had_source else k.withColumn("__k_src", srcs)
        part = F.pmod(salt_hash(F.col("__k_doc")), mapping[F.col("__k_src")])
        joins.append((meta, kc.withColumn("__k_part", part),
                      src_eq & (F.col("part_id") == F.col("__k_part"))))
        rest = meta.where(~F.col("source").isin(list(salts)))
    joins.append((rest, k, src_eq if had_source else F.lit(True)))
    for m, kk, on in joins:
        hits = m.join(F.broadcast(kk), on & hit(F.col("__k_doc")))
        rows = rows.unionByName(hits.select(*rows.columns))
    return rows


def _candidates(chunk_df, keys, salts, validate, max_collected):
    """-> (ids, kdf, cand). Collects the fused metadata query ONCE: every
    row that hits a key or (validate=True) breaks the layout anywhere in
    the table. Raises on a violation; cand is the sorted candidate chunk
    ids, or a chunk_id DataFrame when the hits exceed max_collected."""
    ids, kdf, had_source = _normalize_keys(chunk_df, keys)
    rows = _hit_rows(_bracketed_meta(chunk_df, False), ids, kdf, had_source, salts)
    hit = F.col("__k_doc").isNotNull()
    got = rows.where(hit | (F.col("__bad") & validate))
    got = got.limit(max_collected + 1).collect()
    over = len(got) > max_collected
    if validate:  # past the cap, a violation may lie beyond the collect
        _raise_if_bad(got + (rows.where("__bad").take(1) if over else []))
    if over:
        return ids, kdf, rows.where(hit).select("chunk_id").distinct()
    return ids, kdf, sorted({r["chunk_id"] for r in got if r["__k_doc"] is not None})


def candidate_hits(
    chunk_df: DataFrame,
    keys,
    salts: dict[str, int] | None = None,
    validate: bool = True,
) -> DataFrame:
    """(chunk_id, __k_doc) pairs: for each requested (source, doc_id) key,
    the chunks whose zone-map bracket can contain it — the core
    delete_docs (mutation) prunes with, as it needs to know WHICH keys
    target each chunk; superset semantics. validate=True checks the whole
    table's layout eagerly, so a mutation raises before any write."""
    meta = _bracketed_meta(chunk_df, validate)
    rows = _hit_rows(meta, *_normalize_keys(chunk_df, keys), salts)
    return rows.where(F.col("__k_doc").isNotNull()).select("chunk_id", "__k_doc")


def candidate_chunk_ids(
    chunk_df: DataFrame,
    keys,
    salts: dict[str, int] | None = None,
    validate: bool = True,
) -> DataFrame:
    """Distinct chunk_ids that can contain the requested (source, doc_id)
    keys — a candidate SUPERSET in the data-skipping sense (kept chunks
    may hold other docs; apply the exact key filter after decode). The
    metadata query is collected here, so layout violations raise here.

    salts: encode-time S(source) plan (or recover_salt_plan output). For
    covered sources each key prunes to its ONE hash-assigned part; others
    bracket every part of the source. MUST be the exact encode plan —
    prefer recover_salt_plan, which certifies against the table."""
    _, _, cand = _candidates(chunk_df, keys, salts, validate, _MAX_COLLECTED)
    return cand if isinstance(cand, DataFrame) else chunk_df.sparkSession \
        .createDataFrame([(i,) for i in cand], "chunk_id string")


def lookup_docs(
    chunk_df: DataFrame,
    keys,
    cfg=None,
    columns: list[str] | None = None,
    salts: dict[str, int] | None = None,
    max_collected: int = _MAX_COLLECTED,
    validate: bool = True,
) -> DataFrame:
    """Decode exactly the docs named by `keys` from an encoded chunk table.

    keys: a DataFrame with doc_id (+ optional source — providing it skips
    searching other sources' parts) or an iterable of doc_id strings.
    Duplicate doc_ids in the DATA all come back (they are distinct docs).

    salts: pass recover_salt_plan(chunk_df) (or the encode-time plan) to
    prune each key to its single hash-assigned part; omitted -> recovered
    per call (three more metadata collects: recover once and reuse it).
    With salts, a request is one metadata query, collected here (layout
    violations raise here), plus the decode of the candidate chunks: at
    most 4 Spark jobs for a short key list.

    Returns the decoded rows under the usual decode column resolution
    (`columns` projects INTO the blob exactly like decode_tokens)."""
    from copybook_rs_spark.operators.decode import _resolve_columns, decode_tokens

    if salts is None:
        salts = recover_salt_plan(chunk_df)
    ids, kdf, cand = _candidates(chunk_df, keys, salts, validate, max_collected)
    want = list(_resolve_columns(columns, cfg))
    dec_cols = None if columns is None else list(
        dict.fromkeys([*columns, "doc_id", "source"]))
    dec = decode_tokens(_prune(chunk_df, cand), columns=dec_cols, cfg=cfg)
    if ids is not None:
        return dec.where(F.col("doc_id").isin(ids)).select(*want)
    return dec.join(F.broadcast(kdf), kdf.columns, "left_semi").select(*want)
