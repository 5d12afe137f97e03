"""The three workloads. Each drives the engine only through its public
functions; every timed operation is followed by untimed output checks.

A workload has ``setup()`` (inputs, and for ``refresh`` the base history,
its first rollup and one warm-up cycle) and ``op(i, tr)`` (one timed operation: a full pass
for ``backfill`` and ``corpus``, one append -> rollup -> read cycle for
``refresh``). ``op`` returns an :class:`OpResult` whose checks run after
the op's timer stops. ``tr`` is a :class:`trace.Tracer` in the traced run
and a :class:`trace.NullTracer` otherwise; both run the same code.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import timedelta

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from . import inputs
from .harness import tree_bytes
from .trace import NullTracer

# Engine functions that the engine's own compositions call, wrapped in the
# traced pass: (module, attribute, layer, lazy|eager).
PIPELINE_PATCHES = [
    ("tsdat_spark.pipeline", "standardize", "standardize", "lazy"),
    ("tsdat_spark.pipeline", "with_token_len", "standardize", "lazy"),
    ("tsdat_spark.pipeline", "with_turn_latency", "standardize", "lazy"),
    ("tsdat_spark.pipeline", "apply_qc", "qc", "lazy"),
    ("tsdat_spark.pipeline", "rollup_tier", "rollup", "lazy"),
    ("tsdat_spark.pipeline", "reaggregate_tier", "rollup", "lazy"),
    ("tsdat_spark.pipeline", "write_tier", "io.writers", "eager"),
    ("tsdat_spark.pipeline", "partition_manifests", "io.checkpoint", "eager"),
    ("tsdat_spark.pipeline", "write_manifests", "io.checkpoint", "eager"),
    ("tsdat_spark.pipeline", "completed_partitions", "io.checkpoint", "eager"),
]
CORPUS_PATCHES = [
    ("tsdat_spark.text.dedup", "minhash_signature", "text.dedup", "lazy"),
    ("tsdat_spark.text.dedup", "lsh_candidate_pairs", "text.dedup", "lazy"),
    ("tsdat_spark.text.dedup", "jaccard_pairs", "text.dedup", "lazy"),
    ("tsdat_spark.graph", "connected_components", "graph", "lazy"),
    ("tsdat_spark.text.substring", "substring_scrub", "text.substring", "lazy"),
    ("tsdat_spark.text.lines", "line_dedup", "text.lines", "lazy"),
    ("tsdat_spark.text.lm", "train_bigram_lm", "text.lm", "lazy"),
    ("tsdat_spark.text.lm", "score_perplexity", "text.lm", "lazy"),
    ("tsdat_spark.text.bpe", "train_bpe", "text.bpe", "eager"),
    ("tsdat_spark.text.bpe", "encode_bpe", "text.bpe", "lazy"),
    ("tsdat_spark.text.packing", "pack_sequences", "text.packing", "lazy"),
]


@dataclass
class OpResult:
    rows: int
    checks: list = field(default_factory=list)  # [(name, fn -> None | problem)]


def _dataset(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive")


def _sum(path: str, col: str) -> int:
    return int(pc.sum(_dataset(path).to_table(columns=[col]).column(col)).as_py() or 0)


def _expect(name: str, got, want):
    return None if got == want else f"{name}: got {got}, expected {want}"


# ---------------------------------------------------------------- backfill
class Backfill:
    """standardize + QC (run_ingest) -> tiers (run_rollup_job) -> transforms
    -> cold blocks + zstd zarr export, over one generated transcript table."""

    rows_label = "turns"
    patches = PIPELINE_PATCHES
    first_op = 0
    op_group = 1

    def __init__(self, spark, seed: int, work: str, cores: int):
        self.spark, self.seed, self.work, self.cores = spark, seed, work, cores
        self.out_root = f"{work}/out"

    def _generate(self, path: str, shape: dict) -> None:
        """Write a transcript table and take the counts its checks need."""
        from tsdat_spark.synth import generate_transcripts

        spec = inputs.transcript_spec(self.seed, self.cores, **shape)
        generate_transcripts(self.spark, spec).write.parquet(path)
        raw = _dataset(path).to_table(columns=["conv_id", "turn_idx", "ts"])
        self.raw_path = path
        self.n_rows = raw.num_rows
        self.n_distinct = raw.group_by(["conv_id", "turn_idx"]).aggregate([]).num_rows
        ts = raw.column("ts")
        self.n_days = len(pc.unique(pc.cast(ts, "date32")))
        lo = pc.min(ts).as_py()
        hi = pc.max(ts).as_py()
        self.grid_lo = lo.replace(hour=0, minute=0, second=0, microsecond=0)
        self.grid_hi = hi.replace(minute=0, second=0, microsecond=0) + timedelta(hours=1)

    def setup(self) -> None:
        self._generate(f"{self.work}/in/raw", inputs.BACKFILL)

    def op(self, i: int, tr) -> OpResult:
        from pyspark.sql import functions as F

        from tsdat_spark import transform
        from tsdat_spark.config import transcripts_spec
        from tsdat_spark.io import coldstore, writers, zarr2
        from tsdat_spark.pipeline import run_ingest, run_rollup_job
        from tsdat_spark.qc import QCContext, QualityManager, check_missing, check_monotonic

        spark, out = self.spark, f"{self.out_root}/pass{i}"
        managers = [
            QualityManager("missing_text",
                           lambda d, c, v, s: check_missing(F.col(v), kind="string"),
                           ["text"], handlers=[("record", "Bad")]),
            QualityManager("monotonic_ts",
                           lambda d, c, v, s: check_monotonic(c, F.col(v), "increasing"),
                           ["ts"], handlers=[("record", "Bad")]),
        ]
        ctx = QCContext(series_keys=("conv_id",), order_cols=("turn_idx", "ts"))
        with tr.patched(self.patches), tr.span("pipeline.backfill_pass"):
            with tr.span("pipeline.run_ingest"):
                run_ingest(spark.read.parquet(self.raw_path), transcripts_spec(), ctx,
                           managers, dedup_keys=["conv_id", "turn_idx"],
                           table_path=f"{out}/std")
            std = spark.read.parquet(f"{out}/std")
            with tr.span("pipeline.run_rollup_job"):
                job = run_rollup_job(std, f"{out}/tiers")
            tr.note("io.checkpoint", "rebuilt_per_changed_day",
                    len(job.written_days) / self.n_days)

            # transforms regrid the 1m tier, whose series have unique bin_start
            t1m = writers.read_tier(spark, f"{out}/tiers/tier_1m")
            g30 = transform.GridSpec(self.grid_lo, self.grid_hi, interval_s=1800)
            g1h = transform.GridSpec(self.grid_lo, self.grid_hi, interval_s=3600)
            ba = tr.lazy("transform", transform.bin_average, t1m, g30, TIER_KEYS,
                         "bin_start", ["n_turns"], complete_grid=False)
            ba.write.parquet(f"{out}/bin_average_30m")
            li = tr.lazy("transform", transform.interpolate_linear, t1m, g1h, TIER_KEYS,
                         "bin_start", ["n_turns"], range_s=3600)
            li.write.parquet(f"{out}/interpolate_1h")

            with tr.span("io.coldstore:encode_cold_blocks", "io.coldstore"):
                coldstore.encode_cold_blocks(std, ["conv_id"], "ts", "latency_us") \
                    .write.parquet(f"{out}/cold")
            t1h = writers.read_tier(spark, f"{out}/tiers/tier_1h").select(*ZARR_COLS)
            zw = zarr2.ZarrDatasetWriter(compressor={"id": "zstd"}, order_by=ZARR_COLS)
            tr.call("io.zarr2", zw.write, t1h, f"{out}/zarr")

        if tr.enabled:
            points = _sum(f"{out}/cold", "n_points")
            tr.note("io.coldstore", "bytes_per_point",
                    tree_bytes(f"{out}/cold") / max(points, 1))
            tr.note("io.zarr2", "bytes_written", tree_bytes(f"{out}/zarr"))

        return OpResult(self.n_rows, [
            ("ingest", lambda: _expect("standardized rows",
                                       _dataset(f"{out}/std").count_rows(), self.n_distinct)),
            ("rollup", lambda: self._check_tiers(out)),
            ("transform", lambda: self._check_transforms(out)),
            ("store", lambda: self._check_cold(out) or self._check_zarr(out)),
        ])

    def _check_transforms(self, out: str):
        """Bin averages lie within their series' range; interpolated labels
        sit on the 1h grid, once per series."""
        keys = TIER_KEYS
        tier = _dataset(f"{out}/tiers/tier_1m").to_table(
            columns=[*keys, "bin_start", "n_turns"]).to_pandas()
        span = tier.groupby(keys, dropna=False)["n_turns"].agg(["min", "max"]).reset_index()
        ba = _dataset(f"{out}/bin_average_30m").to_table(columns=[*keys, "n_turns"]).to_pandas()
        ba = ba.dropna(subset=["n_turns"]).merge(span, on=keys, how="left")
        if ba.empty or not ((ba["n_turns"] >= ba["min"] - 1e-9)
                            & (ba["n_turns"] <= ba["max"] + 1e-9)).all():
            return "bin_average value outside its series range (or no output)"
        li = _dataset(f"{out}/interpolate_1h").to_table(
            columns=[*keys, "label", "n_turns"]).to_pandas()
        offset_s = (li["label"] - li["label"].min().floor("D")).dt.total_seconds()
        if li["n_turns"].notna().sum() == 0 or (offset_s % 3600 != 0).any():
            return "interpolate_linear gave no values or labels off the 1h grid"
        if li.duplicated(subset=[*keys, "label"]).any():
            return "interpolate_linear gave a label twice in one series"
        return None

    def _check_tiers(self, out: str):
        want = self.n_distinct
        for tier in ("1m", "1h", "1d"):
            got = _sum(f"{out}/tiers/tier_{tier}", "n_turns")
            if got != want:
                return f"tier_{tier} n_turns sum {got} != standardized rows {want}"
        return None

    def _check_cold(self, out: str, sample: int = 25):
        """A seeded sample of cold blocks decodes to its source series."""
        from tsdat_spark.compress.gorilla import gorilla_decode

        blocks = _dataset(f"{out}/cold").to_table().to_pandas()
        if blocks["n_points"].sum() != self.n_distinct:
            return f"cold blocks hold {blocks['n_points'].sum()} points, expected {self.n_distinct}"
        std = _dataset(f"{out}/std").to_table(columns=["conv_id", "ts", "latency_us"]).to_pandas()
        std["day"] = std["ts"].dt.date
        rng = np.random.default_rng(self.seed)
        for j in rng.choice(len(blocks), size=min(sample, len(blocks)), replace=False):
            b = blocks.iloc[int(j)]
            ts, vals = gorilla_decode(b["block"])
            src = std[(std["conv_id"] == b["conv_id"]) & (std["day"] == b["p_date"])]
            want = np.sort(np.rec.fromarrays([
                src["ts"].astype("datetime64[us]").astype(np.int64).to_numpy(),
                src["latency_us"].astype(np.float64).fillna(np.nan).to_numpy()]))
            got = np.sort(np.rec.fromarrays([np.asarray(ts, np.int64),
                                             np.asarray(vals, np.float64)]))
            if len(got) != len(want) or not (
                    np.array_equal(got.f0, want.f0)
                    and np.array_equal(got.f1, want.f1, equal_nan=True)):
                return f"cold block {b['conv_id']}/{b['p_date']} does not decode to its series"
        return None

    def _check_zarr(self, out: str):
        from tsdat_spark.io.zarr2 import read_zarr_array

        tier = _dataset(f"{out}/tiers/tier_1h").to_table(columns=ZARR_COLS)
        tier = tier.sort_by([(c, "ascending") for c in ZARR_COLS], null_placement="at_start")
        for c in ZARR_COLS:
            col = tier.column(c)
            if c in ("bin_start", "bin_end"):
                col = pc.cast(col, "timestamp[us]").cast("int64")
            want = col.to_numpy(zero_copy_only=False).astype(np.float64)
            got = read_zarr_array(f"{out}/zarr/{c}").astype(np.float64)
            if not np.array_equal(got, want, equal_nan=True):
                return f"zarr array {c} differs from the exported 1h tier"
        return None


TIER_KEYS = ["conv_id", "tool", "role"]
ZARR_COLS = ["bin_start", "bin_end", "n_turns", "token_len_sum", "n_latency",
             "latency_p50", "latency_p95"]


# ----------------------------------------------------------------- refresh
class Refresh:
    """Append a small batch to a snapshot table, refresh its tiers
    (run_rollup_job_snapshot), read back the refreshed day's 1h tier."""

    rows_label = "appended turns"
    patches = PIPELINE_PATCHES
    first_op = 1  # batch 0 is the warm-up cycle of setup()
    # whole groups of on-time and late batches, so every run has the same mix
    op_group = inputs.REFRESH_LATE_EVERY

    def __init__(self, spark, seed: int, work: str, cores: int):
        self.spark, self.seed, self.work, self.cores = spark, seed, work, cores
        self.out_root = f"{work}/out"
        self.table_root = f"{self.out_root}/table"
        self.tiers = f"{self.out_root}/tiers"
        self.rebuilt_days = self.changed_days = 0  # base-tier days, traced cycles

    def _turns(self, spec, prefix: str = ""):
        from pyspark.sql import functions as F

        from tsdat_spark.standardize import with_token_len, with_turn_latency
        from tsdat_spark.synth import generate_transcripts

        df = with_turn_latency(with_token_len(generate_transcripts(self.spark, spec)))
        if prefix:
            df = df.withColumn("conv_id", F.concat(F.lit(prefix), F.col("conv_id")))
        return df

    def setup(self) -> None:
        from tsdat_spark.io.snapshots import SnapshotTable
        from tsdat_spark.pipeline import run_rollup_job_snapshot

        base = inputs.transcript_spec(self.seed, self.cores, **inputs.REFRESH_BASE)
        self._turns(base).write.parquet(f"{self.work}/in/base")
        self.table = SnapshotTable(self.table_root)
        self.table.append(self.spark.read.parquet(f"{self.work}/in/base"), timestamp=0.0)
        run_rollup_job_snapshot(self.table, self.spark, self.tiers)
        # One warm-up cycle (batch 0): the first cycle of a session runs
        # ~25% slower and would dominate a 4-cycle sample.
        self.prepare(0)
        for name, check in self.op(0, NullTracer()).checks:
            problem = check()
            if problem:
                raise RuntimeError(f"warm-up cycle {name}: {problem}")

    def prepare(self, i: int) -> None:
        """Generate batch ``i`` (untimed)."""
        b = inputs.refresh_batch(self.seed, i)
        path = f"{self.work}/in/batch{i}"
        self._turns(inputs.batch_spec(b), prefix=f"b{i}-").write.parquet(path)
        ts = _dataset(path).to_table(columns=["ts"]).column("ts")
        self.batch = (b, path, sorted({t.date().isoformat() for t in ts.to_pylist()}))

    def op(self, i: int, tr) -> OpResult:
        from tsdat_spark import rollup
        from tsdat_spark.io import checkpoint, writers
        from tsdat_spark.pipeline import run_rollup_job_snapshot

        b, path, days = self.batch
        before = checkpoint.completed_partitions(f"{self.tiers}/tier_1m") if tr.enabled else {}
        with tr.patched(self.patches), tr.span("pipeline.refresh_cycle"):
            snap = tr.call("io.snapshots", self.table.append,
                           self.spark.read.parquet(path), timestamp=float(i + 1))
            with tr.span("pipeline.run_rollup_job_snapshot"):
                run_rollup_job_snapshot(self.table, self.spark, self.tiers)
            day = days[-1]
            tier = tr.lazy("io.writers", writers.read_tier, self.spark,
                           f"{self.tiers}/tier_1h", start=day, end=day)
            summary = tr.lazy("rollup", rollup.tier_summary, tier).collect()
        if tr.enabled:
            after = checkpoint.completed_partitions(f"{self.tiers}/tier_1m")
            self.rebuilt_days += sum(1 for d, m in after.items()
                                     if d not in before or before[d].written_at != m.written_at)
            self.changed_days += len(days)
            tr.note("io.checkpoint", "rebuilt_per_changed_day",
                    self.rebuilt_days / self.changed_days)

        return OpResult(snap.n_rows_added, [
            (f"cycle{i}", lambda: _expect(
                "tier_1d n_turns sum vs snapshot n_rows_total",
                _sum(f"{self.tiers}/tier_1d", "n_turns"), snap.n_rows_total)
                or (None if summary else f"empty 1h summary for {day}")),
        ])


# ------------------------------------------------------------------ corpus
CORPUS_QUERIES = ["clean_corpus", "jaccard_pairs", "substring_scrub", "line_dedup",
                  "lm_perplexity"]
SEQ_LEN = 512


class Corpus:
    """Five corpus queries from ``__spark_entry__.queries()`` plus
    ``run_corpus_export``, over a generated documents table."""

    rows_label = "documents"
    patches = CORPUS_PATCHES
    first_op = 0
    op_group = 1

    def __init__(self, spark, seed: int, work: str, cores: int):
        self.spark, self.seed, self.work, self.cores = spark, seed, work, cores
        self.sf_dir = f"{work}/in"
        self.out_root = f"{work}/out"
        self._expected: dict = {}

    def setup(self) -> None:
        self.n_rows = inputs.write_corpus(self.seed, self.sf_dir)


    def op(self, i: int, tr) -> OpResult:
        import __spark_entry__ as entry

        from tsdat_spark.pipeline import run_corpus_export

        spark, out = self.spark, f"{self.out_root}/pass{i}"
        queries = entry.queries()
        with tr.patched(self.patches), tr.span("pipeline.corpus_pass"):
            for name in CORPUS_QUERIES:
                with tr.span(f"query.{name}"):
                    queries[name](spark, self.sf_dir).write.parquet(f"{out}/{name}")
            with tr.span("pipeline.run_corpus_export"):
                manifest = run_corpus_export(
                    spark, spark.read.parquet(f"{self.sf_dir}/documents.parquet"),
                    f"{out}/export", seq_len=SEQ_LEN)
        checks = [(name, lambda name=name: self._check_query(name, f"{out}/{name}"))
                  for name in CORPUS_QUERIES]
        checks.append(("run_corpus_export", lambda: self._check_export(manifest, out)))
        return OpResult(self.n_rows, checks)

    def _check_query(self, name: str, path: str):
        got = _normalize(_dataset(path).to_table().to_pandas())
        if name not in self._expected:
            self._expected[name] = _normalize(self._oracle(name))
        want = self._expected[name]
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} != oracle {list(want.columns)}"
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        if not got.equals(want):
            return "values differ from the DuckDB oracle"
        return None

    def _oracle(self, name: str):
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                        f"'{self.sf_dir}/documents.parquet'")
            return con.execute(entry.oracle_sql()[name]).df()
        finally:
            con.close()

    def _check_export(self, manifest: dict, out: str):
        """No oracle exists for the export; check the packed stream's own
        invariants against the written shards."""
        shards = _dataset(f"{out}/export/shards").to_table(
            columns=["doc_id", "seq_id", "pos_in_seq", "start_offset", "n_bpe"]).to_pandas()
        shards = shards.sort_values("start_offset", kind="mergesort")
        starts = shards["start_offset"].to_numpy()
        sizes = shards["n_bpe"].to_numpy()
        problems = [
            _expect("manifest n_docs", manifest["n_docs"], self.n_rows),
            _expect("shard rows", len(shards), self.n_rows),
            _expect("distinct doc ids", int(shards["doc_id"].nunique()), self.n_rows),
            _expect("stream end", manifest["stream_end"], int(sizes.sum())),
            _expect("manifest n_tokens", manifest["n_tokens"], int(sizes.sum())),
            None if np.array_equal(starts[1:], (starts + sizes)[:-1])
            else "packed stream is not contiguous",
            None if (sizes > 0).all() else "a document has no tokens",
            None if os.path.exists(f"{out}/export/merges.json")
            and len(json.load(open(f"{out}/export/merges.json"))) == manifest["n_merges"]
            else "merges.json missing or short",
        ]
        return next((p for p in problems if p), None)


def _normalize(df):
    """Sorted columns, floats for every number, rows sorted: an
    order-insensitive form for comparing against an oracle."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind in "iub" or str(df[c].dtype).startswith(("Int", "UInt", "boolean")):
            df[c] = df[c].astype("float64")
        elif kind == "f":
            df[c] = df[c].astype("float64")
        elif kind == "O":
            df[c] = df[c].map(lambda v: tuple(v) if hasattr(v, "__len__")
                              and not isinstance(v, str) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


WORKLOADS = {"backfill": Backfill, "refresh": Refresh, "corpus": Corpus}
