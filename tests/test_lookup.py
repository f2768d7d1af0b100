"""Doc-id point lookup: zone-map bracketing, salt-plan recovery, pruning.

The reference serves point reads by full decode + filter
(crates/copybook-cli/src/commands/decode.rs); operators/lookup.py is the
data-skipping counterpart, so the tests pin (a) exact result parity with
decode-everything-and-filter, (b) that pruning actually skips chunks, and
(c) that the recovered salt plan equals the encode-time plan.
"""

import pytest
from pyspark.sql import functions as F

from copybook_rs_spark.config import EncodeConfig
from copybook_rs_spark.errors import PipelineContractError
from copybook_rs_spark.operators import (
    candidate_chunk_ids,
    decode_tokens,
    delete_docs,
    encode_tokens,
    lookup_docs,
    recover_salt_plan,
)
from copybook_rs_spark.operators.lookup import _MAX_LITERAL_KEYS
from copybook_rs_spark.plans.partition import plan_salts
from copybook_rs_spark.sources.tokens import token_table

SF_DIR = "/root/testdata/sf0.001"
CFG = EncodeConfig(
    chunk_values=4096, target_values_per_part=12_288, shuffle_partitions=8
)


@pytest.fixture(scope="module")
def tok_df(spark):
    df = token_table(spark, SF_DIR).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def chunks(spark, tok_df):
    df = encode_tokens(tok_df, CFG).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def keys(tok_df):
    # deterministic 40-key sample spanning sources
    return [
        r["doc_id"]
        for r in tok_df.select("doc_id").orderBy("doc_id").limit(40).collect()
    ]


def _rows(df):
    return sorted(
        (r["source"], r["doc_id"], r["n_tok"], tuple(r["tokens"]))
        for r in df.collect()
    )


def test_salt_plan_recovery_matches_encode_plan(tok_df, chunks):
    expected = plan_salts(
        tok_df, CFG.target_values_per_part, CFG.max_salt,
        chunk_floor=CFG.chunk_values,
    )
    recovered = recover_salt_plan(chunks)
    assert recovered == expected


def test_lookup_matches_decode_and_filter(spark, tok_df, chunks, keys):
    got = lookup_docs(chunks, keys, cfg=CFG)
    expected = decode_tokens(chunks, cfg=CFG).where(F.col("doc_id").isin(keys))
    assert _rows(got) == _rows(expected)
    assert len(_rows(got)) == 40


def test_lookup_with_source_keys_df(spark, tok_df, chunks, keys):
    kdf = tok_df.select("source", "doc_id").where(F.col("doc_id").isin(keys))
    got = lookup_docs(chunks, kdf, cfg=CFG)
    expected = tok_df.where(F.col("doc_id").isin(keys))
    assert _rows(got) == _rows(expected)


def test_salted_pruning_beats_bracket_only(chunks, tok_df, keys):
    kdf = tok_df.select("source", "doc_id").where(F.col("doc_id").isin(keys))
    salts = recover_salt_plan(chunks)
    assert salts  # driver data always certifies
    total = chunks.count()
    n_plain = candidate_chunk_ids(chunks, kdf, salts=None).count()
    n_salted = candidate_chunk_ids(chunks, kdf, salts=salts).count()
    assert n_salted <= n_plain < total
    # exact-part path: each key brackets <= 2 chunks in ONE part
    assert n_salted <= 2 * len(keys)


def test_lookup_missing_and_duplicate_keys(chunks, keys):
    got = lookup_docs(
        chunks, [keys[0], keys[0], "doc_does_not_exist_0_0_0_1"], cfg=CFG
    )
    rows = got.collect()
    assert [r["doc_id"] for r in rows] == [keys[0]]


def test_lookup_projection_pushes_into_blob(chunks, tok_df, keys):
    got = lookup_docs(chunks, keys, cfg=CFG, columns=["doc_id", "n_tok"])
    assert got.columns == ["doc_id", "n_tok"]
    expected = sorted(
        (r["doc_id"], r["n_tok"])
        for r in tok_df.where(F.col("doc_id").isin(keys)).collect()
    )
    assert sorted((r["doc_id"], r["n_tok"]) for r in got.collect()) == expected


def test_lookup_duplicate_doc_ids_all_returned(spark):
    # duplicate doc_ids are distinct docs; tiny chunks force cuts through
    # the duplicate runs, so brackets with next_first == key must match
    rows = [
        (f"dup_{i % 7}", list(range(i % 50 + 1)), i % 50 + 1, "web")
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    cfg = EncodeConfig(
        chunk_values=256, target_values_per_part=1024, shuffle_partitions=4
    )
    ch = encode_tokens(df, cfg)
    got = lookup_docs(ch, ["dup_3"], cfg=cfg)
    exp = [r for r in rows if r[0] == "dup_3"]
    assert sorted(r["n_tok"] for r in got.collect()) == sorted(
        r[2] for r in exp
    )


def test_union_of_runs_raises_typed(spark):
    # a union of independent encode runs interleaves doc ranges within a
    # part — the zone map is invalid and the guard must refuse (invariant
    # 3: typed error, never silent wrong data)
    cfg = EncodeConfig(
        chunk_values=256, target_values_per_part=1024, shuffle_partitions=4
    )
    mk = lambda pfx: spark.createDataFrame(  # noqa: E731
        [
            (f"{pfx}_{i:03d}", list(range(i % 30 + 1)), i % 30 + 1, "web")
            for i in range(200)
        ],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    both = encode_tokens(mk("zz"), cfg).unionByName(encode_tokens(mk("aa"), cfg))
    with pytest.raises(PipelineContractError, match="single-encode-run"):
        candidate_chunk_ids(both, ["aa_005"]).count()


def test_lookup_parquet_backed_pushes_in_filter(spark, tok_df, chunks, keys, tmp_path):
    # file-backed path: the collected candidate ids must reach the scan as
    # a pushed In(chunk_id) filter so skipped blobs are never read
    path = str(tmp_path / "chunks")
    chunks.write.parquet(path)
    stored = spark.read.parquet(path)
    salts = recover_salt_plan(stored)
    ids = [
        r["chunk_id"]
        for r in candidate_chunk_ids(stored, keys[:5], salts=salts).collect()
    ]
    pruned = stored.where(F.col("chunk_id").isin(ids))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(chunk_id" in plan.replace(" ", "")
    got = lookup_docs(stored, keys[:5], cfg=CFG, salts=salts)
    expected = tok_df.where(F.col("doc_id").isin(keys[:5]))
    assert _rows(got) == _rows(expected)


def test_lookup_request_job_count(spark, chunks, keys):
    # a request is one metadata query plus one decode; a per-request
    # aggregate or a second validation pass coming back fails here
    salts = recover_salt_plan(chunks)
    sc = spark.sparkContext
    group = "test-lookup-job-count"
    sc.setJobGroup(group, "single-key lookup")
    try:
        rows = lookup_docs(chunks, [keys[3]], salts=salts).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["doc_id"] for r in rows] == [keys[3]]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4


def _tok_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )


def test_layout_validation_is_whole_table(spark, tmp_path):
    # one "web" group is a union of two encode runs; the requested key
    # brackets only into the intact source "books" (every web doc sorts
    # after it), so only a whole-table check can see the broken group
    cfg = EncodeConfig(
        chunk_values=256, target_values_per_part=1024, shuffle_partitions=4
    )
    mk = lambda pfx, src, n: [  # noqa: E731
        (f"{pfx}_{i:03d}", list(range(i % 30 + 1)), i % 30 + 1, src)
        for i in range(n)
    ]
    run_a = encode_tokens(
        _tok_df(spark, mk("wz", "web", 200) + mk("bk", "books", 200)), cfg
    )
    run_b = encode_tokens(_tok_df(spark, mk("wa", "web", 1)), cfg)
    table = run_a.unionByName(run_b).cache()
    try:
        touched = candidate_chunk_ids(table, ["bk_005"], validate=False).collect()
        assert touched and all(r["chunk_id"].startswith("books/") for r in touched)
        with pytest.raises(PipelineContractError, match="single-encode-run"):
            lookup_docs(table, ["bk_005"], cfg=cfg)
        out = tmp_path / "deleted"
        with pytest.raises(PipelineContractError, match="single-encode-run"):
            delete_docs(table, ["bk_005"], cfg=cfg).write.parquet(str(out))
        assert not out.exists()
    finally:
        table.unpersist()


def test_literal_keys_match_decode_and_filter(spark):
    # awkward strings must survive the literal predicates verbatim; tiny
    # chunks put keys on cut edges and duplicate runs across cuts
    odd = ["", "'", "o'brien", 'say "hi"', "back\\slash", "naïve", "日本語", "a\nb"]
    rows = [
        (d, [i, i + 1], 2, "web" if i % 3 else "books")
        for i, d in enumerate(odd + [f"doc_{i:04d}" for i in range(400)])
    ]
    rows += [(f"dup_{i % 3}", list(range(i % 40 + 1)), i % 40 + 1, "web")
             for i in range(120)]
    cfg = EncodeConfig(
        chunk_values=256, target_values_per_part=1024, shuffle_partitions=4
    )
    ch = encode_tokens(_tok_df(spark, rows), cfg).cache()
    try:
        edges = sorted(
            r["first_doc_id"] for r in ch.select("first_doc_id").collect()
            if r["first_doc_id"].startswith("doc_")
        )
        keys = odd + ["dup_1", edges[len(edges) // 2], "doc_missing"]
        # one past the literal cap: the same keys take the broadcast path
        rest = sorted({r[0] for r in rows} - set(keys))
        wide = keys + rest[: _MAX_LITERAL_KEYS + 1 - len(keys)]
        assert len(set(wide)) == _MAX_LITERAL_KEYS + 1
        decoded = decode_tokens(ch, cfg=cfg)
        for salts in (None, {}):
            for ks in (keys, wide, [""]):
                got = lookup_docs(ch, ks, cfg=cfg, salts=salts)
                want = decoded.where(F.col("doc_id").isin(ks))
                assert _rows(got) == _rows(want), (salts, len(ks))
        assert len(_rows(lookup_docs(ch, keys, cfg=cfg))) == len(odd) + 40 + 1
    finally:
        ch.unpersist()
