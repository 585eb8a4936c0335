"""The three closed-loop workloads: one client, one op in flight.

Each workload has the same shape:

* ``setup()`` builds its inputs from the seed (run several times; the
  last one is kept);
* ``prepare(i)`` makes op ``i``'s input, untimed;
* ``op(i, inp)`` is the timed call into the library;
* ``check(i, inp, out)`` verifies the op's output against a reference
  computed without the code under test, untimed;
* ``finish()`` is an end-of-run check of the state the ops built;
* ``layers(...)`` turns the traced ops into per-layer metrics.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from go_muse_spark import kernels as K
from go_muse_spark.functions.codecs import encode_floats, encode_timestamps
from go_muse_spark.operators.compress import decode_chunks, encode_tiers_fused
from go_muse_spark.operators.rollup import rollup_transcripts
from go_muse_spark.operators.search import SearchParams, muse_search_rollup
from go_muse_spark.plans.continuous import ContinuousAggregates, tier_table
from go_muse_spark.sources.store import ParquetTableStore
from go_muse_spark.sources.transcripts import generate_transcripts

from tracing import OpStats, Spans, median, union_wall

# Corpus shape. Conversations start uniformly over SPAN_DAYS and the
# corpus is clipped to that window, so every seed gives the same 1m
# series length (SPAN_DAYS * 1440 points, one FFT size). A seeded thinning
# then keeps a fixed number of turns, so every seed gives the same turn
# count (the generator's varies by about 5% between seeds).
SPAN_DAYS = 2
HOT_TURNS = 2000
MINUTE_US = 60 * 1_000_000
EPOCH_US = int(np.datetime64("2025-01-01T00:00:00", "us").astype("int64"))
END_US = EPOCH_US + SPAN_DAYS * 86_400 * 1_000_000
N_LEN = SPAN_DAYS * 1440
TIERS_US = {"1m": MINUTE_US, "1h": 3600 * 1_000_000, "1d": 86_400 * 1_000_000}
CHUNK_SIZE = 1024  # encode_tiers_fused's default
TOP_N = 10


def make_corpus(seed: int, n_convs: int, turns: int | None = None) -> pa.Table:
    """The library's synthetic transcripts, clipped to the span window
    and, given ``turns``, thinned to exactly that many turns."""
    tab = generate_transcripts(
        n_convs=n_convs, seed=seed, hot_turns=HOT_TURNS, span_days=SPAN_DAYS
    )
    tab = tab.filter(pc.less(tab.column("ts").cast(pa.int64()), END_US))
    if turns is None:
        return tab
    if tab.num_rows < turns:
        raise ValueError(f"seed {seed} gives {tab.num_rows} turns, fewer than {turns}")
    keep = np.random.default_rng([seed, 1]).choice(tab.num_rows, size=turns, replace=False)
    return tab.take(np.sort(keep))


def corpus_fingerprint(tab: pa.Table) -> tuple[int, str]:
    """Row count and a content hash over (conv_id, turn_idx, ts)."""
    h = hashlib.sha256()
    h.update("\n".join(tab.column("conv_id").to_pylist()).encode())
    h.update(tab.column("turn_idx").to_numpy().astype("<i4").tobytes())
    h.update(tab.column("ts").cast(pa.int64()).to_numpy().astype("<i8").tobytes())
    return tab.num_rows, h.hexdigest()[:16]


def write_parquet(tab: pa.Table, path: str, n_files: int) -> None:
    """Row-sliced part files, so the scan has one task per core."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-tab.num_rows // n_files)
    for i, lo in enumerate(range(0, tab.num_rows, step)):
        pq.write_table(tab.slice(lo, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dense_tiers(tab: pa.Table):
    """Per conversation, the zero-filled dense 1m series over its own
    [first, last] minute and its 1h / 1d sums: what encode_tiers_fused
    encodes, computed in numpy from the raw turns."""
    codes = pc.dictionary_encode(tab.column("conv_id")).combine_chunks().indices.to_numpy()
    ts = tab.column("ts").cast(pa.int64()).to_numpy()
    order = np.lexsort((ts, codes))
    codes, minutes = codes[order], (ts[order] - EPOCH_US) // MINUTE_US
    bounds = np.flatnonzero(np.diff(codes)) + 1
    for m in np.split(minutes, bounds):
        lo = m[0]
        v1m = np.bincount(m - lo).astype(np.float64)
        t1m = EPOCH_US + (lo + np.arange(v1m.size)) * MINUTE_US
        out = {"1m": (t1m, v1m)}
        ts, vals = t1m, v1m
        for tier in ("1h", "1d"):
            bucket = ts // TIERS_US[tier]
            starts = np.concatenate(([0], np.flatnonzero(np.diff(bucket)) + 1))
            ts, vals = bucket[starts] * TIERS_US[tier], np.add.reduceat(vals, starts)
            out[tier] = (ts, vals)
        yield out


class Workload:
    """Defaults: no per-op input, no end-of-run state to check, nothing
    to record around a traced op."""

    def prepare(self, i: int):
        return None

    def finish(self) -> bool:
        return True

    def trace_begin(self) -> None:
        pass

    def trace_end(self, inp) -> None:
        pass


class RollupEncode(Workload):
    """Read the transcript parquet, roll up to 1m, encode all three
    tiers with encode_tiers_fused's defaults, write to the noop sink."""

    name = "rollup_encode"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.path = os.path.join(ctx.work, "transcripts")

    def setup(self) -> None:
        tab = make_corpus(self.ctx.seed, self.ctx.n_convs, self.ctx.turns)
        write_parquet(tab, self.path, self.ctx.cores)
        self.turns = tab.num_rows
        self.series = len(pc.unique(tab.column("conv_id")))
        self.tiers = list(dense_tiers(tab))
        self.expected = {}
        for tier in TIERS_US:
            n = np.array([len(t[tier][0]) for t in self.tiers])
            self.expected[f"chunks_{tier}"] = int((-(-n // CHUNK_SIZE)).sum())
            self.expected[f"points_{tier}"] = int(n.sum())

    def encode(self):
        tx = self.ctx.spark.read.parquet(self.path)
        return encode_tiers_fused(rollup_transcripts(tx, "1m"))

    def op(self, i: int, inp):
        obs = Observation(f"chunks-{i}")
        aggs = []
        for tier in TIERS_US:
            is_tier = F.col("tier") == tier
            aggs.append(F.count(F.when(is_tier, 1)).alias(f"chunks_{tier}"))
            aggs.append(
                F.coalesce(F.sum(F.when(is_tier, F.col("n_points"))), F.lit(0)).alias(
                    f"points_{tier}"
                )
            )
        _noop(self.encode().observe(obs, *aggs))
        return obs.get

    def check(self, i: int, inp, out) -> bool:
        return {k: int(v) for k, v in out.items()} == self.expected

    def finish(self) -> bool:
        """Decoded chunks sum to the turn count in every tier."""
        rows = (
            decode_chunks(self.encode())
            .groupBy("tier")
            .agg(F.sum("turn_cnt").alias("turns"), F.count(F.lit(1)).alias("points"))
            .collect()
        )
        got = {r["tier"]: (r["turns"], r["points"]) for r in rows}
        want = {t: (float(self.turns), self.expected[f"points_{t}"]) for t in TIERS_US}
        return got == want

    def work(self, inp) -> tuple[int, int]:
        return self.turns, self.series

    def codec_floor_s(self) -> float:
        """One core, in process: the codec calls over the same dense
        tiers and chunking, with no Spark and no Arrow."""
        t0 = time.perf_counter()
        for conv in self.tiers:
            for ts, vals in conv.values():
                for lo in range(0, len(ts), CHUNK_SIZE):
                    encode_timestamps(ts[lo : lo + CHUNK_SIZE])
                    encode_floats(vals[lo : lo + CHUNK_SIZE])
        return time.perf_counter() - t0

    def layers(self, walls, stats: list[OpStats], outs, events) -> dict[str, float]:
        """scan and agg are the Spark job time of the op's plan prefixes
        (each re-reading the parquet as the op does), encode is the wall
        of the op's Python stage; the op's time outside any Spark job
        (plan building and planning) is spark.outside_jobs_s_per_op."""
        spark = self.ctx.spark
        prefixes = {
            "scan": lambda tx: tx.select("conv_id", "ts"),
            "agg": lambda tx: rollup_transcripts(tx, "1m").select("conv_id", "bucket_ts", "turn_cnt"),
        }
        for rep in range(3):
            for k, prefix in prefixes.items():
                spark.sparkContext.setJobGroup(f"prefix-{k}-{rep}", k)
                _noop(prefix(spark.read.parquet(self.path)))
        ev = events()
        job_s = {k: median(ev[f"prefix-{k}-{rep}"].job_wall() for rep in range(3)) for k in prefixes}
        scan_s = job_s["scan"]
        agg_s = max(job_s["agg"] - scan_s, 0.0)
        encodes = [union_wall(st.stage_walls()[1]) for st in stats]
        encode_s = median(encodes)
        skews = []
        for st in stats:
            tasks = st.python_task_ms()
            skews.append(max(tasks) / max(median(tasks), 1))
        floor_s = median(self.codec_floor_s() for _ in range(3))
        out = outs[-1]
        return {
            "sources.scan_s": scan_s,
            "rollup.agg_s": agg_s,
            "compress.encode_s": encode_s,
            "compress.encode_task_skew": median(skews),
            "compress.chunks_out": sum(int(out[f"chunks_{t}"]) for t in TIERS_US),
            "compress.points_out": sum(int(out[f"points_{t}"]) for t in TIERS_US),
            "codecs.floor_s": floor_s,
            "compress.floor_ratio": encode_s / (floor_s / self.ctx.cores),
            "trace.coverage": median(
                (scan_s + agg_s + e + w - st.job_wall()) / w
                for e, w, st in zip(encodes, walls, stats)
            ),
        }


class MuseSearch(Workload):
    """Batch.Run over the materialized 1m tier: per-series, top-10,
    |score|, every lag, a fresh seeded reference per op."""

    name = "muse_search"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.path = os.path.join(ctx.work, "transcripts")
        self.tier_path = os.path.join(ctx.work, "rollup_1m")
        lo = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
        self.bounds = (lo, lo + dt.timedelta(minutes=N_LEN - 1), N_LEN)
        self.params = SearchParams(top_n=TOP_N, max_lag=None, mode="abs")

    def setup(self) -> None:
        spark = self.ctx.spark
        tab = make_corpus(self.ctx.seed, self.ctx.n_convs, self.ctx.turns)
        write_parquet(tab, self.path, self.ctx.cores)
        tier = rollup_transcripts(spark.read.parquet(self.path), "1m")
        tier.select("conv_id", "bucket_ts", "turn_cnt").write.mode("overwrite").parquet(
            self.tier_path
        )
        self.tier = spark.read.parquet(self.tier_path)
        pdf = self.tier.toPandas()
        keys, row = np.unique(pdf["conv_id"].to_numpy(), return_inverse=True)
        col = (
            pdf["bucket_ts"].to_numpy("datetime64[us]").astype(np.int64) - EPOCH_US
        ) // MINUTE_US
        self.dense = np.zeros((len(keys), N_LEN))
        self.dense[row, col] = pdf["turn_cnt"].to_numpy(np.float64)
        self.keys = keys
        self.index = {k: j for j, k in enumerate(keys)}
        self.turns = tab.num_rows
        # references are built from series with some body to them
        self.ref_rows = np.flatnonzero(self.dense.sum(axis=1) >= 50)

    def prepare(self, i: int) -> np.ndarray:
        rng = np.random.default_rng([self.ctx.seed, i])
        base = self.dense[rng.choice(self.ref_rows)]
        return base + rng.normal(0.0, 0.5, N_LEN)

    def op(self, i: int, ref: np.ndarray):
        df = muse_search_rollup(self.tier, ref, 60, params=self.params, bounds=self.bounds)
        return [(r["series_key"], int(r["lag"]), float(r["score"])) for r in df.collect()]

    def check(self, i: int, ref: np.ndarray, out) -> bool:
        """Top-10 against numpy's batch_xcorr over the collected dense
        matrix: every key's lag exact and score within 1e-9, ranks in
        |score| order, and no key outside the reference top-10 (ties at
        the cut within 1e-9 may trade places)."""
        lags, scores = K.batch_xcorr(K.prepare_ref(ref), self.dense)
        scores = K.clamp_abs(scores)
        k = min(TOP_N, len(self.keys))
        if len(out) != k or len({key for key, _, _ in out}) != k:
            return False
        kth = np.sort(scores)[::-1][k - 1]
        prev = np.inf
        for key, lag, score in out:
            j = self.index.get(key)
            if j is None or lag != lags[j] or abs(score - scores[j]) > 1e-9:
                return False
            if score > prev + 1e-9 or score < kth - 1e-9:
                return False
            prev = score
        return True

    def work(self, inp) -> tuple[int, int]:
        return self.turns, len(self.keys)

    def kernel_floor_s(self) -> float:
        """One core, in process: the batched rfft scoring of the whole
        dense matrix against one reference."""
        spec = K.prepare_ref(self.prepare(0))
        t0 = time.perf_counter()
        y_spec, ok = K.batch_y_spec(self.dense, spec.n, spec.ref_n)
        K.xcorr_from_spec(spec.x_spec, y_spec, ok, spec.n)
        return time.perf_counter() - t0

    def layers(self, walls, stats: list[OpStats], outs, events) -> dict[str, float]:
        """Stage walls before, of and after the Python scoring stage;
        coverage adds the op's time outside any Spark job."""
        parts = [st.stage_walls() for st in stats]
        exchange_s = median(union_wall(p[0]) for p in parts)
        score_s = median(union_wall(p[1]) for p in parts)
        merge_s = median(union_wall(p[2]) for p in parts)
        floor_s = median(self.kernel_floor_s() for _ in range(3))
        op_p50 = median(walls)
        return {
            "search.exchange_s": exchange_s,
            "search.score_s": score_s,
            "search.merge_s": merge_s,
            "search.score_tasks": median(
                sum(len(s["task_ms"]) for s in st.stages.values() if s["python"])
                for st in stats
            ),
            "kernels.floor_s": floor_s,
            "search.floor_ratio": op_p50 / (floor_s / self.ctx.cores),
            "trace.coverage": median(
                (sum(union_wall(x) for x in p) + w - st.job_wall()) / w
                for p, w, st in zip(parts, walls, stats)
            ),
        }


class TracedStore(ParquetTableStore):
    """ParquetTableStore whose public methods report outermost-call
    spans, and which counts the rows its upserts write."""

    def __init__(self, spark, root: str, spans: Spans) -> None:
        super().__init__(spark, root)
        self.spans = spans
        self.rows_written = 0

    def upsert(self, delta, table, *args, **kwargs):
        n = self.spans.wrap(f"store.upsert_s.{table}", super().upsert, delta, table, *args, **kwargs)
        self.rows_written += n
        return n

    def dup_key_count(self, *args, **kwargs):
        return self.spans.wrap("store.dup_check_s", super().dup_key_count, *args, **kwargs)

    def read(self, *args, **kwargs):
        return self.spans.wrap("store.read_s", super().read, *args, **kwargs)

    def checkpoints(self, *args, **kwargs):
        return self.spans.wrap("store.checkpoint_s", super().checkpoints, *args, **kwargs)

    def log_checkpoint(self, *args, **kwargs):
        return self.spans.wrap("store.checkpoint_s", super().log_checkpoint, *args, **kwargs)

    def watermark(self, *args, **kwargs):
        return self.spans.wrap("store.checkpoint_s", super().watermark, *args, **kwargs)

    def is_committed(self, *args, **kwargs):
        return self.spans.wrap("store.checkpoint_s", super().is_committed, *args, **kwargs)

    def next_seq(self, *args, **kwargs):
        return self.spans.wrap("store.checkpoint_s", super().next_seq, *args, **kwargs)


STORE_SPANS = (
    [f"store.upsert_s.{t}" for t in ("transcripts_raw", "rollup_1m", "rollup_1h", "rollup_1d", "chunks_1h")]
    + ["store.dup_check_s", "store.read_s", "store.checkpoint_s"]
)


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            st = os.stat(os.path.join(dirpath, name))
            out[os.path.join(dirpath, name)] = (st.st_ino, st.st_size)
    return out


class IngestMerge(Workload):
    """ContinuousAggregates over a fresh ParquetTableStore, backfilled
    with the first day; each op ingests the next block of turns in ts
    order plus ~1% seeded late re-deliveries of already-ingested turns."""

    name = "ingest_merge"
    TABLES = {"_dup_keys", "transcripts_raw", "rollup_1m", "rollup_1h", "rollup_1d", "chunks_1h"}

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spans = Spans()
        self.setups = 0
        # per traced op: store spans, rows the upserts wrote, bytes of
        # new files under the store, delta rows
        self.trace_log = {"spans": [], "rows": [], "bytes": [], "delta_rows": []}

    def setup(self) -> None:
        spark = self.ctx.spark
        tab = make_corpus(self.ctx.seed, self.ctx.n_convs, self.ctx.turns)
        ts = tab.column("ts").cast(pa.int64()).to_numpy()
        order = np.argsort(ts, kind="stable")
        self.sorted = tab.take(order)
        self.n_backfill = int(np.searchsorted(ts[order], EPOCH_US + 86_400 * 1_000_000))
        if getattr(self, "root", None):
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.ctx.work, f"store-{self.setups}")
        self.setups += 1
        if self.ctx.trace:
            self.store = TracedStore(spark, self.root, self.spans)
        else:
            self.store = ParquetTableStore(spark, self.root)
        self.ca = ContinuousAggregates(self.store)
        self.ca.ingest(spark.createDataFrame(self.sorted.slice(0, self.n_backfill)), "backfill")
        self.ingested = self.n_backfill
        # ops stop when the corpus runs out of blocks
        self.blocks = (self.sorted.num_rows - self.n_backfill) // self.ctx.block

    def prepare(self, i: int):
        lo = self.n_backfill + i * self.ctx.block
        rng = np.random.default_rng([self.ctx.seed, i])
        late = rng.choice(lo, size=max(1, self.ctx.block // 100), replace=False)
        delta = pa.concat_tables(
            [self.sorted.slice(lo, self.ctx.block), self.sorted.take(np.sort(late))]
        )
        self.ingested = lo + self.ctx.block
        return self.ctx.spark.createDataFrame(delta), delta.num_rows, len(
            pc.unique(delta.column("conv_id"))
        )

    def op(self, i: int, inp):
        return self.ca.ingest(inp[0], f"op-{i:03d}")

    def check(self, i: int, inp, out) -> bool:
        return (
            set(out) == self.TABLES
            and out["_dup_keys"] == 0
            and all(v > 0 for k, v in out.items() if k != "_dup_keys")
        )

    def finish(self) -> bool:
        """Every tier equals a from-scratch rollup of all ingested turns,
        with no duplicate keys, and re-ingesting a committed run_id is a
        no-op."""
        spark = self.ctx.spark
        turns = spark.createDataFrame(self.sorted.slice(0, self.ingested))
        for tier in self.ca.tiers:
            cols = ["conv_id", "bucket_ts", "turn_cnt", "tool_cnt", "first_ts", "last_ts", "turns_per_sec"]
            got = self.store.read(tier_table(tier)).select(*cols).toPandas()
            want = rollup_transcripts(turns, tier).select(*cols).toPandas()
            if got.duplicated(["conv_id", "bucket_ts"]).any():
                return False
            got = got.sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
            want = want.sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
            if not got.equals(want):
                return False
        again = self.ca.ingest(spark.createDataFrame(self.sorted.slice(0, 1)), "op-000")
        return again == {}

    def work(self, inp) -> tuple[int, int]:
        return inp[1], inp[2]

    def layers(self, walls, stats, outs, events=None) -> dict[str, float]:
        spans, delta_rows = self.trace_log["spans"], self.trace_log["delta_rows"]
        out = {name: median(s.get(name, 0.0) for s in spans) for name in STORE_SPANS}
        selfs = [w - sum(s.values()) for w, s in zip(walls, spans)]
        out["continuous.self_s"] = median(selfs)
        out["store.rows_written_per_delta_row"] = sum(self.trace_log["rows"]) / sum(delta_rows)
        out["store.bytes_written_per_turn"] = sum(self.trace_log["bytes"]) / sum(delta_rows)
        ckpt = os.path.join(self.root, "_checkpoints")
        out["store.checkpoint_files"] = sum(f.endswith(".parquet") for f in os.listdir(ckpt))
        # 1 by construction: continuous.self_s is the remainder
        out["trace.coverage"] = median(
            (sum(s.values()) + c) / w for s, c, w in zip(spans, selfs, walls)
        )
        return out

    def trace_begin(self) -> None:
        self.spans.enabled = True
        self.spans.take()
        self.store.rows_written = 0
        self._before = _files(self.root)

    def trace_end(self, inp) -> None:
        self.spans.enabled = False
        after = _files(self.root)
        log = self.trace_log
        log["spans"].append(self.spans.take())
        log["rows"].append(self.store.rows_written)
        log["bytes"].append(sum(sz for p, (ino, sz) in after.items() if self._before.get(p, (None,))[0] != ino))
        log["delta_rows"].append(inp[1])


WORKLOADS = {w.name: w for w in (RollupEncode, MuseSearch, IngestMerge)}
