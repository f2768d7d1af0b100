"""Per-layer metrics of a traced run.

``trace_extras`` makes the calls that exist only to split a stage into its
layers (noop-sink variants, the salt pre-pass alone, candidate pruning
alone, the single-core kernel lane). ``layer_metrics`` then folds those and
the spans of the timed cycles -- with the Spark status-store metrics
attached to them -- into the named per-layer metrics.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

from pipeline import median, noop_sink

KERNEL_SAMPLE_CHUNKS = 6


def trace_extras(run) -> None:
    from pyspark.sql import functions as F

    from copybook_rs_spark.operators import (
        candidate_chunk_ids, decode_tokens, encode_tokens, filter_chunks_by_token,
        prepare_grouped,
    )
    from copybook_rs_spark.plans.partition import plan_salts, with_part_id
    from copybook_rs_spark.sources.manifest import assert_unique_chunk_ids, build_manifest

    tok, cfg, lay = run.tok, run.cfg, run.layer
    rid = "layers"

    salts, lay["partition.plan_salts_s"] = run.timed(
        "partition.plan_salts", rid,
        lambda: plan_salts(tok, cfg.target_values_per_part, cfg.max_salt,
                           chunk_floor=cfg.chunk_values))
    lay["partition.n_groups"] = sum(salts.values())
    sizes = [r["v"] for r in with_part_id(tok, salts).groupBy("source", "part_id")
             .agg(F.sum("n_tok").alias("v")).collect()]
    lay["partition.max_group_share"] = max(sizes) / sum(sizes)

    _, lay["encode.prepare_grouped_noop_s"] = run.timed(
        "encode.prepare_grouped", rid, lambda: noop_sink(prepare_grouped(tok, cfg)))
    grouped = prepare_grouped(tok, cfg).cache()
    grouped.count()
    _, lay["encode.pregrouped_noop_s"] = run.timed(
        "encode.encode_tokens_pregrouped", rid,
        lambda: noop_sink(encode_tokens(grouped, cfg, pregrouped=True)))
    grouped.unpersist()
    _, lay["encode.noop_s"] = run.timed(
        "encode.encode_tokens", rid, lambda: noop_sink(encode_tokens(tok, cfg)))

    _, lay["manifest.guard_s"] = run.timed(
        "manifest.assert_unique_chunk_ids", rid, lambda: assert_unique_chunk_ids(run.chunks))
    _, lay["manifest.build_s"] = run.timed(
        "manifest.build_manifest", rid, lambda: build_manifest(run.chunks).collect())
    files = [os.path.join(d, f) for d, _, fs in os.walk(run.served_dir)
             for f in fs if f.endswith(".parquet")]
    lay["manifest.files_written"] = len(files)
    lay["manifest.bytes_written"] = sum(os.path.getsize(f) for f in files)

    _, lay["decode.noop_s"] = run.timed(
        "decode.decode_tokens", rid, lambda: noop_sink(decode_tokens(run.chunks)))
    lay["decode.scan_partitions"] = run.chunks.rdd.getNumPartitions()

    n_chunks = run.served_meta["n_chunks"]
    cands, secs = [], []
    for key in run.keys[:1]:
        rows, dt = run.timed(
            "lookup.candidate_chunk_ids", rid,
            lambda: candidate_chunk_ids(run.chunks, [key], salts=run.salts).collect())
        cands.append(len(rows))
        secs.append(dt)
    lay["lookup.candidate_chunk_ids_s"] = median(secs)
    lay["lookup.candidate_chunks"] = statistics.mean(cands)
    lay["lookup.prune_ratio"] = statistics.mean(cands) / n_chunks

    served = pq.read_table(os.path.join(run.served_dir, "chunks"), columns=["chunk_id", "blob"])
    blobs = dict(zip(served.column("chunk_id").to_pylist(), served.column("blob").to_pylist()))
    cands, useful, secs = [], [], []
    for t in run.needles[:2]:
        rows, dt = run.timed(
            "token_index.filter_chunks_by_token", rid,
            lambda: filter_chunks_by_token(run.chunks, run.index, t)
            .select("chunk_id").collect())
        ids = [r["chunk_id"] for r in rows]
        cands.append(len(ids))
        useful.append(sum(_holds(blobs[i], t) for i in ids))
        secs.append(dt)
    lay["token_index.filter_s"] = median(secs)
    lay["token_index.candidate_chunks"] = statistics.mean(cands)
    lay["token_index.useful_ratio"] = sum(useful) / max(sum(cands), 1)

    kernel_lane(run)


def _holds(blob_bytes: bytes, token: int) -> bool:
    from copybook_rs_spark import blob

    return bool(np.any(blob.decode_chunk(blob_bytes, need_docs=False)[3] == token))


def kernel_lane(run) -> None:
    """Single-core blob.encode_chunk / decode_chunk over a fixed seeded
    sample of chunk-sized runs of consecutive input documents."""
    from copybook_rs_spark import blob
    from copybook_rs_spark.codecs.core import CODEC_NAMES

    truth, lay = run.truth, run.layer
    rng = np.random.default_rng(run.seed + 7)
    enc_s = dec_s = 0.0
    n_vals = 0
    codecs: Counter = Counter()
    for start in rng.integers(0, truth.n_docs, KERNEL_SAMPLE_CHUNKS):
        end = int(np.searchsorted(
            truth.offsets, truth.offsets[start] + run.cfg.chunk_values, "left"))
        end = min(max(end, start + 1), truth.n_docs)
        ids = [truth.doc_ids[i].encode() for i in range(start, end)]
        doc_lens = np.array([len(b) for b in ids], dtype=np.int64)
        lengths = np.diff(truth.offsets[start:end + 1]).astype(np.int64)
        values = truth.values[truth.offsets[start]:truth.offsets[end]]
        doc_bytes = b"".join(ids)

        def roundtrip():
            nonlocal enc_s, dec_s, n_vals
            t = time.perf_counter()
            data, info = blob.encode_chunk(doc_bytes, doc_lens, lengths, values)
            t1 = time.perf_counter()
            out = blob.decode_chunk(data)
            t2 = time.perf_counter()
            run.check(out[0] == doc_bytes and np.array_equal(out[2], lengths)
                      and np.array_equal(out[3], values), "kernel lane round trip")
            enc_s += t1 - t
            dec_s += t2 - t1
            n_vals += len(values)
            codecs[info["codec"]] += 1
            return True

        run.op("kernel lane chunk", roundtrip)
    lay["blob.encode_chunk_mvals_per_s"] = n_vals / enc_s / 1e6 if enc_s else None
    lay["blob.decode_chunk_mvals_per_s"] = n_vals / dec_s / 1e6 if dec_s else None
    for name in CODEC_NAMES.values():
        lay[f"codecs.chunks.{name}"] = codecs.get(name, 0)


def layer_metrics(run) -> dict[str, float]:
    """Named per-layer metrics: the extras plus medians over the timed
    cycles' spans of each layer call."""
    spans = run.tracer.report()
    lay = dict(run.layer)

    def cycle_spans(name):
        return [s for s in spans if s["name"] == name and s["run_id"].startswith("cycle-")
                and "-read-" not in s["run_id"]]

    def read_spans(name):
        return [s for s in spans if s["name"] == name and "-read-" in s["run_id"]]

    def med(ss, key):
        xs = [s.get("metrics", {}).get(key, 0) for s in ss]
        return median(xs) if ss else None

    enc = cycle_spans("manifest.write_encoded")
    lay["manifest.write_encoded_s"] = median([s["duration_s"] for s in enc])
    lay["encode.exchange.bytes_written"] = med(enc, "exchange.bytes_written")
    lay["encode.exchange.fetch_wait_s"] = med(enc, "exchange.fetch_wait_s")
    lay["encode.python.run_s"] = med(enc, "python.run_s")
    lay["encode.python.bytes_sent"] = med(enc, "python.bytes_sent")
    lay["encode.python.bytes_returned"] = med(enc, "python.bytes_returned")

    dec = cycle_spans("decode.run_decode")
    lay["decode.run_decode_s"] = median([s["duration_s"] for s in dec])
    lay["decode.python.bytes_returned"] = med(dec, "python.bytes_returned")

    ver = cycle_spans("verify.hash_mismatched_sources")
    lay["verify.hash_mismatched_s"] = median([s["duration_s"] for s in ver])
    lay["verify.exchange.bytes_written"] = med(ver, "exchange.bytes_written")

    pack = cycle_spans("packing.pack_sequences")
    lay["packing.pack_noop_s"] = median([s["duration_s"] for s in pack])
    lay["packing.exchange.bytes_written"] = med(pack, "exchange.bytes_written")
    lay["packing.exchange.fetch_wait_s"] = med(pack, "exchange.fetch_wait_s")
    lay["packing.spark_jobs"] = median([len(s["jobs"]) for s in pack]) if pack else None

    for layer, name in (("lookup", "lookup.lookup_docs"),
                        ("token_index", "token_index.docs_with_token")):
        ss = read_spans(name)
        lay[f"{layer}.spark_jobs_per_request"] = (
            median([len(s["jobs"]) for s in ss]) if ss else None)
    return {k: v for k, v in lay.items() if v is not None}
