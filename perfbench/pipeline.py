"""One benchmark run: set-up, warm-up, timed cycles, correctness checks.

A cycle is the bulk pipeline over the whole input --
``write_encoded(encode_tokens(..))``, materialized ``run_decode``,
``hash_mismatched_sources`` over the decoded output, ``pack_sequences``
to a noop sink -- followed by a closed-loop batch of point reads (one
request in flight) against the served table, the encoded table the first
cycle wrote: single-key ``lookup_docs`` and ``docs_with_token`` searches
for rare tokens. Every timed call goes through a public engine function.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import inputs
from procs import RssSampler, stop_spark
from spans import Tracer

SEQ_LEN = 2048
WARMUP_SHARE = 40  # the warm-up pass sees 1/40 of the documents
SETUP_REPEATS = 3  # setup_s is the median of this many set-ups
LOOKUPS_PER_CYCLE = 2
SEARCHES_PER_CYCLE = 2
MAX_CYCLES = 64

# Input sizes at --scale 1.
WORKLOADS = {
    "corpus_roundtrip": {"rows": 16_000},
    "entropy_roundtrip": {"docs": 1_600},
}

# The encoded input's chunk table for the documented seed and the
# self-test's: an encoder or blob-format change that alters the written
# bytes fails the run until these are updated. The same on local[2] and
# local[4].
PINNED_ENCODINGS = {
    ("corpus_roundtrip", 1, 1.0): {
        "n_chunks": 9, "enc_bytes": 97584,
        "fingerprint": "9cce339ffe9cd802d7f347646a3634c0d6fcb2459cbcfe5e455d612b1dd18f4a"},
    ("entropy_roundtrip", 1, 1.0): {
        "n_chunks": 11, "enc_bytes": 936402,
        "fingerprint": "34fa520732197b4c3be663992db05e80123d92d83d146075962c5dcf40af16a8"},
    ("corpus_roundtrip", 3, 0.05): {
        "n_chunks": 3, "enc_bytes": 3503,
        "fingerprint": "35ad6fb87df4f32233c48028dccbfc28fecb3f3311a5b75118e3654aa696a064"},
    ("entropy_roundtrip", 3, 0.05): {
        "n_chunks": 3, "enc_bytes": 53265,
        "fingerprint": "2b16f66d7ab1e52f1447527ec0fcffb0b2b9929bd28be097b73cebf5395bc60c"},
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it; (None, None) below 11 samples."""
    n = len(xs)
    if n < 11:
        return None, None
    pct = 100.0 * (n - 10) / n
    return float(np.percentile(xs, pct)), pct


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Failure(Exception):
    pass


class Run:
    def __init__(self, workload: str, seed: int, scale: float, seconds: float,
                 trace: bool, work: str):
        self.workload = workload
        self.spec = WORKLOADS[workload]
        self.seed = seed
        self.scale = scale
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(trace)
        self.rss = RssSampler(slots=nproc())
        self.attempted = 0
        self.failures: list[str] = []
        self.cycles: list[dict] = []
        self.reads: dict[str, list[float]] = {"lookup": [], "search": []}
        self.layer: dict[str, float] = {}
        self.info: dict = {"workload": workload, "seed": seed, "scale": scale}
        self.served_meta = None
        self.setup_s = None

    # ---- bookkeeping ------------------------------------------------------

    def timed(self, name: str, run_id: str, fn):
        """Call fn under a span; -> (result, wall seconds)."""
        with self.tracer.span(name, run_id):
            t = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            raise Failure(what)

    def op(self, what: str, fn):
        """One attempted operation: counts a failure when fn raises or a
        check inside it fails. -> fn's result, or None after a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self.failures.append(f"{what}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None

    # ---- set-up -------------------------------------------------------------

    def setup(self) -> None:
        """Session start, the seeded input and its brute-force copy, and an
        untimed warm-up. The read path's timed set-up follows the first
        bulk pass (``serve``)."""
        t0 = time.perf_counter()
        from copybook_rs_spark.config import EncodeConfig
        from copybook_rs_spark.session import get_spark

        cores = nproc()
        self.spark, dt = self.timed(
            "session.get_spark", "setup",
            lambda: get_spark("perfbench", cores=cores, shuffle_partitions=cores),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        self.layer["session.get_spark_s"] = dt
        self.info["cores"] = cores
        self.cfg = EncodeConfig()

        parts = self.info["setup_parts_s"] = {"session": time.perf_counter() - t0}

        def mark(name):
            parts[name] = time.perf_counter() - t0 - sum(parts.values())

        self.tok = self._load_input()
        mark("input")
        self.truth = inputs.Truth(self.tok.toArrow())
        self.n_tokens = self.truth.n_tokens
        self.info.update(n_docs=self.truth.n_docs, n_tokens=self.n_tokens)
        rng = np.random.default_rng(self.seed)
        self.keys = self.truth.lookup_keys(rng, MAX_CYCLES * LOOKUPS_PER_CYCLE)
        self.needles = self.truth.rare_needles(rng, MAX_CYCLES * SEARCHES_PER_CYCLE)
        self.answers = {t: self.truth.search_answer(t) for t in set(self.needles)}
        mark("truth")
        self.warmup()
        mark("warmup")
        self.rss.sample()

    def warmup(self) -> None:
        """Untimed first use of every timed call on 1/40 of the documents:
        code generation, JIT and worker paths warm up here. The first
        requests of a fresh JVM run ~1.5x slower than later ones, so the
        warm-up also makes (and discards) one lookup and one search on the
        small table. Three independent chains run concurrently to keep the
        set-up short."""
        from concurrent.futures import ThreadPoolExecutor

        from copybook_rs_spark.operators import (
            build_token_index, docs_with_token, encode_tokens, lookup_docs,
            recover_salt_plan, run_decode,
        )
        from copybook_rs_spark.operators.packing import pack_sequences
        from copybook_rs_spark.operators.verify import hash_mismatched_sources
        from copybook_rs_spark.sources.manifest import read_chunks, write_encoded

        small = self.tok.limit(max(self.truth.n_docs // WARMUP_SHARE, 50)).cache()
        small.count()
        enc = os.path.join(self.work, "warmup", "enc")
        dec = os.path.join(self.work, "warmup", "dec")
        spark = self.spark

        def reads():
            chunks = read_chunks(spark, enc)
            first = chunks.select("first_doc_id", "min_token").first()
            salts = recover_salt_plan(chunks)
            lookup_docs(chunks, [first["first_doc_id"]], salts=salts).collect()
            index = build_token_index(chunks).cache()
            docs_with_token(chunks, index, first["min_token"]).collect()
            index.unpersist()

        def decode_verify():
            run_decode(read_chunks(spark, enc), dec)
            hash_mismatched_sources(small, spark.read.parquet(dec)).collect()

        with ThreadPoolExecutor(max_workers=2) as pool:
            pack = pool.submit(
                lambda: noop_sink(pack_sequences(small, SEQ_LEN)))
            write_encoded(encode_tokens(small, self.cfg), enc)
            chain = pool.submit(decode_verify)
            reads()
            chain.result()
            pack.result()
        small.unpersist()
        shutil.rmtree(os.path.join(self.work, "warmup"), ignore_errors=True)

    def serve(self, table_dir: str) -> None:
        """The read path's set-up on the first bulk pass's encoded table,
        made SETUP_REPEATS times: the salt plan recovered, the token index
        built and cached. ``setup_s`` is the median of these set-ups."""
        from copybook_rs_spark.operators import build_token_index, recover_salt_plan
        from copybook_rs_spark.sources.manifest import read_chunks

        t0 = time.perf_counter()
        self.served_dir = table_dir
        self.served_meta = _chunk_meta(table_dir)
        self.info["encoding"] = {k: self.served_meta[k]
                                 for k in ("n_chunks", "enc_bytes", "fingerprint")}
        self.op("served table", lambda: self.check_encoding(table_dir))
        self.chunks = read_chunks(self.spark, table_dir)
        reps, salts_s, index_s = [], [], []
        for i in range(SETUP_REPEATS):
            if i:
                self.index.unpersist(blocking=True)
            t = time.perf_counter()
            self.salts, dt = self.timed("lookup.recover_salt_plan", f"setup-{i}",
                                        lambda: recover_salt_plan(self.chunks))
            salts_s.append(dt)
            self.index = build_token_index(self.chunks).cache()
            _, dt = self.timed("token_index.build_token_index", f"setup-{i}",
                               self.index.count)
            index_s.append(dt)
            reps.append(time.perf_counter() - t)
        self.setup_s = median(reps)
        self.layer["lookup.recover_salt_plan_s"] = median(salts_s)
        self.layer["token_index.build_s"] = median(index_s)
        self.info["setup_repeats_s"] = reps
        self.info["setup_parts_s"]["serve"] = time.perf_counter() - t0

    def _load_input(self):
        """The seeded input as a cached token table: the engine's
        ``token_table`` over a lineitem file, or a token parquet file."""
        from copybook_rs_spark.sources.tokens import token_table

        if self.workload == "corpus_roundtrip":
            rows = max(int(self.spec["rows"] * self.scale), 100)
            sf_dir = inputs.write_corpus_lineitem(
                self.seed, rows, os.path.join(self.work, "input"))
            tok, _ = self.timed("sources.token_table", "setup",
                                lambda: token_table(self.spark, sf_dir))
        else:
            docs = max(int(self.spec["docs"] * self.scale), 50)
            path = inputs.write_entropy_tokens(
                self.seed, docs, os.path.join(self.work, "input", "tokens.parquet"))
            tok = self.spark.read.parquet(path)
        tok = tok.cache()
        self.timed("sources.cache_input", "setup", tok.count)
        return tok

    def check_encoding(self, table_dir: str) -> bool:
        """No chunk's values payload is larger than the plain encoding of its
        values (the engine's invariant; the blob's header and doc-id section
        are not part of it, so a one-document chunk's blob can outgrow its
        raw token bytes), and the table matches the pinned encoding where
        one exists."""
        from copybook_rs_spark import blob
        from copybook_rs_spark.codecs import encode_array

        t = pq.read_table(os.path.join(table_dir, "chunks"), columns=["chunk_id", "blob"])
        for cid, b in zip(t.column("chunk_id").to_pylist(), t.column("blob").to_pylist()):
            values = blob.decode_chunk(b, need_docs=False)[3]
            plain = 1 + len(encode_array(values, codec="plain")[0])  # + mode byte
            self.check(blob.describe_chunk(b)["bytes"]["values_section"] <= plain,
                       f"chunk {cid}: values payload larger than plain")
        pinned = PINNED_ENCODINGS.get((self.workload, self.seed, self.scale))
        if pinned is not None:
            got = {k: self.served_meta[k] for k in pinned}
            self.check(got == pinned, f"encoding {got} differs from pinned {pinned}")
            self.info["pinned_encoding"] = "match"
        return True

    # ---- timed work -----------------------------------------------------------

    def bulk_pass(self, run_id: str, out: str) -> dict:
        """encode+write -> run_decode -> verify -> pack over the whole
        input, each output checked; -> stage seconds."""
        from pyspark.sql import Observation, functions as F

        from copybook_rs_spark.operators import encode_tokens, run_decode
        from copybook_rs_spark.operators.packing import pack_sequences
        from copybook_rs_spark.operators.verify import hash_mismatched_sources
        from copybook_rs_spark.sources.manifest import read_chunks, write_encoded

        tok, n = self.tok, self.n_tokens
        enc_dir, dec_dir = os.path.join(out, "enc"), os.path.join(out, "dec")
        times: dict[str, float] = {}

        def encode():
            _, times["encode"] = self.timed(
                "manifest.write_encoded", run_id,
                lambda: write_encoded(encode_tokens(tok, self.cfg), enc_dir))
            meta = _chunk_meta(enc_dir)
            self.check(meta["n_values"] == n, "encoded token count")
            if self.served_meta is not None:
                self.check(meta["fingerprint"] == self.served_meta["fingerprint"],
                           "chunk table differs from the first encode of the same input")
            times["enc_bytes"] = meta["enc_bytes"]
            return True

        def decode():
            _, times["decode"] = self.timed(
                "decode.run_decode", run_id,
                lambda: run_decode(read_chunks(self.spark, enc_dir), dec_dir))
            got = inputs.list_total_length(
                pq.read_table(dec_dir, columns=["tokens"]), "tokens")
            self.check(got == n, f"decoded {got} tokens")
            return True

        def verify():
            bad, times["verify"] = self.timed(
                "verify.hash_mismatched_sources", run_id,
                lambda: hash_mismatched_sources(
                    tok, self.spark.read.parquet(dec_dir)).collect())
            self.check(not bad, f"{len(bad)} mismatched sources")
            return True

        def pack():
            # pack_sequences runs its narrow prefix-sum jobs when called,
            # so the call itself is inside the timed window
            obs = Observation(f"pack-{run_id}")
            _, times["pack"] = self.timed(
                "packing.pack_sequences", run_id,
                lambda: noop_sink(pack_sequences(tok, SEQ_LEN).observe(
                    obs, F.sum("n_tokens").alias("t"))))
            got = int(obs.get["t"] or 0)
            self.check(got == n, f"packed {got} tokens")
            return True

        with self.tracer.span("bulk", run_id):
            for stage in (encode, decode, verify, pack):
                if self.op(f"{run_id} {stage.__name__}", stage) is None:
                    break
        self.rss.sample()
        return times

    def lookup(self, key: str, run_id: str) -> None:
        from copybook_rs_spark.operators import lookup_docs

        def go():
            rows, dt = self.timed(
                "lookup.lookup_docs", run_id,
                lambda: lookup_docs(self.chunks, [key], salts=self.salts).collect())
            want = self.truth.tokens(self.truth.row_of[key])
            self.check(len(rows) == 1 and rows[0]["doc_id"] == key,
                       f"lookup {key}: {len(rows)} rows")
            self.check(np.array_equal(np.asarray(rows[0]["tokens"]), want),
                       f"lookup {key}: tokens differ")
            return dt

        dt = self.op(f"{run_id} lookup", go)
        if dt is not None:
            self.reads["lookup"].append(dt)

    def search(self, token: int, run_id: str) -> None:
        from copybook_rs_spark.operators import docs_with_token

        def go():
            rows, dt = self.timed(
                "token_index.docs_with_token", run_id,
                lambda: docs_with_token(self.chunks, self.index, token).collect())
            got = {(r["doc_id"], r["source"], int(r["n_hits"])) for r in rows}
            self.check(len(got) == len(rows) and got == self.answers[token],
                       f"search {token}: {len(rows)} rows, "
                       f"{len(self.answers[token])} expected")
            return dt

        dt = self.op(f"{run_id} search", go)
        if dt is not None:
            self.reads["search"].append(dt)

    def measure(self) -> None:
        """Cycles for about --seconds (at least one): another cycle starts
        while it would end closer to --seconds than stopping now."""
        measured = 0.0
        nl, ns = LOOKUPS_PER_CYCLE, SEARCHES_PER_CYCLE
        k = 0
        while True:
            run_id = f"cycle-{k}"
            t0 = time.perf_counter()
            out = os.path.join(self.work, run_id)
            times = self.bulk_pass(run_id, out)
            if k == 0:  # the read path's set-up is not measured time
                measured += time.perf_counter() - t0
                self.serve(os.path.join(out, "enc"))
                t0 = time.perf_counter()
            t_reads = time.perf_counter()
            keys = self.keys[k * nl:(k + 1) * nl]
            needles = self.needles[k * ns:(k + 1) * ns]
            for i in range(max(nl, ns)):
                if i < nl:
                    self.lookup(keys[i], f"{run_id}-read-{i}")
                if i < ns:
                    self.search(needles[i], f"{run_id}-read-{i}")
            times["reads_wall"] = time.perf_counter() - t_reads
            times["n_reads"] = nl + ns
            self.cycles.append(times)
            self.rss.sample()
            measured += time.perf_counter() - t0
            if k:  # the first pass's table stays: it is the served table
                shutil.rmtree(out, ignore_errors=True)
            k += 1
            if measured + measured / k / 2 > self.seconds or k >= MAX_CYCLES:
                break
        self.info["cycles"] = k
        self.info["cycle_stage_s"] = [
            {s: round(c[s], 3) for s in ("encode", "decode", "verify", "pack", "reads_wall")
             if s in c} for c in self.cycles]
        self.info["requests_s"] = self.reads
        self.info["measure_s"] = measured

    # ---- results ----------------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        """End-to-end metrics (medians over cycles / requests)."""
        full = [c for c in self.cycles
                if all(s in c for s in ("encode", "decode", "verify", "pack"))]
        m: dict[str, float] = {}
        if self.setup_s is not None:
            m["setup_s"] = self.setup_s
        if full:
            n = self.n_tokens
            m["roundtrip_s"] = median(
                [c["encode"] + c["decode"] + c["verify"] + c["pack"] for c in full])
            for stage in ("encode", "decode", "verify", "pack"):
                m[f"{stage}_tokens_per_s"] = n / median([c[stage] for c in full])
            m["bytes_per_token"] = median([c["enc_bytes"] for c in full]) / n
        n_reads = sum(c["n_reads"] for c in self.cycles)
        wall = sum(c["reads_wall"] for c in self.cycles)
        if n_reads and wall:
            m["read_ops_per_s"] = n_reads / wall
        for kind in ("lookup", "search"):
            xs = self.reads[kind]
            if xs:
                m[f"{kind}_p50_s"] = median(xs)
                value, pct = tail(xs)
                self.info[f"{kind}_n"] = len(xs)
                if value is not None:
                    m[f"{kind}_tail_s"] = value
                    self.info[f"{kind}_tail_pct"] = pct
        m["peak_rss_mb"] = self.rss.total_mb()
        self.info["python_workers_seen"] = len(self.rss.workers)
        m["failed_ops_frac"] = len(self.failures) / max(self.attempted, 1)
        return m

    def cleanup(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(self.work, ignore_errors=True)


def _chunk_meta(table_dir: str) -> dict:
    """Driver-side read of a written chunk table's metadata columns."""
    t = pq.read_table(
        os.path.join(table_dir, "chunks"),
        columns=["chunk_id", "blob_crc", "n_values", "enc_bytes"],
    )
    ids = t.column("chunk_id").to_pylist()
    crcs = t.column("blob_crc").to_pylist()
    enc = t.column("enc_bytes").to_numpy()
    return {
        "n_chunks": len(ids),
        "n_values": int(t.column("n_values").to_numpy().sum()),
        "enc_bytes": int(enc.sum()),
        "fingerprint": hashlib.sha256(
            repr(sorted(zip(ids, crcs))).encode()).hexdigest(),
    }
