"""The benchmark's own tests, on tiny inputs.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.harness import OpLedger, landed_bytes, quartiles, tail_percentile  # noqa: E402
from perfbench.trace import parse_size  # noqa: E402


# ------------------------------------------------------------ tail rule
def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    pct, value, supported = tail_percentile(xs)
    assert supported
    assert value == 90.0 and pct == 90.0
    assert sum(x > value for x in xs) == 10


def test_tail_ignores_input_order_and_moves_with_sample_count():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]  # n = 12
    pct, value, supported = tail_percentile(xs)
    assert supported and value == 2.0 and pct == pytest.approx(100 * 2 / 12)
    assert sum(x > value for x in xs) == 10


def test_tail_without_enough_samples_is_the_flagged_maximum():
    pct, value, supported = tail_percentile([3.0, 1.0, 2.0])
    assert (pct, value, supported) == (100.0, 3.0, False)
    assert tail_percentile([float(i) for i in range(10)])[2] is False
    assert tail_percentile([float(i) for i in range(11)])[:2] == (100 / 11, 0.0)


def test_quartiles_match_statistics_module():
    import statistics

    xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))


# ------------------------------------------------------ failure counting
def test_injected_failing_check_raises_failed_share():
    ledger = OpLedger()
    assert ledger.record("ok", lambda: None)
    assert ledger.failed_share == 0.0
    assert not ledger.record("bad", lambda: "n_turns sum 9 != 10")
    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert ledger.failed_share == 0.5


def test_raising_check_and_failed_op_both_count():
    ledger = OpLedger()

    def boom():
        raise RuntimeError("decode error")

    assert not ledger.record("raises", boom)
    ledger.fail("op3", "op raised")
    assert (ledger.attempted, ledger.failed) == (2, 2)
    assert "decode error" in ledger.problems[0]


class _FakeWorkload:
    """Ops that take no time; op 2's check fails."""

    first_op, op_group = 1, 4

    def __init__(self, out_root):
        self.out_root = out_root
        self.ran = []

    def op(self, i, tr):
        from perfbench.workloads import OpResult

        self.ran.append(i)
        return OpResult(10, [("check", lambda: "bad output" if i == 2 else None)])


def test_loop_runs_whole_op_groups_and_counts_failed_checks(tmp_path):
    from perfbench.harness import PeakRss, Stopwatch
    from perfbench.run import loop
    from perfbench.trace import NullTracer

    wl, ledger, watch = _FakeWorkload(str(tmp_path)), OpLedger(), Stopwatch()
    rows, _ = loop(wl, NullTracer(), ledger, watch, PeakRss(os.getpid()), 0.0,
                   first=wl.first_op)
    assert wl.ran == [1, 2, 3, 4]
    assert (ledger.attempted, ledger.failed) == (4, 1)
    assert rows == 30  # the op whose check failed completes no rows


# ------------------------------------------------------- storage counter
def test_landed_bytes_counts_new_and_rewritten_files(tmp_path):
    from perfbench.harness import file_states

    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "b").write_bytes(b"y" * 20)
    before = file_states(str(tmp_path))
    (tmp_path / "c").write_bytes(b"z" * 5)          # new
    os.remove(tmp_path / "b")
    (tmp_path / "b").write_bytes(b"w" * 7)          # rewritten
    assert landed_bytes(before, file_states(str(tmp_path))) == 12


# ------------------------------------------------------ process cleanup
_CLEANUP = """
import json, os, subprocess, sys
sys.path.insert(0, {root!r})
from perfbench.harness import adopt_orphans, descendants, stop_descendants
adopt_orphans()
# the shell exits at once and orphans its background sleep
subprocess.Popen(["sh", "-c", "sleep {sleep} & exit 0"]).wait()
seen = len(descendants(os.getpid()))
signalled = stop_descendants(grace_s={grace}, kill_s=2.0)
print(json.dumps([seen, len(signalled), len(descendants(os.getpid()))]))
"""


def _cleanup(sleep: float, grace: float) -> list[int]:
    import json
    import subprocess

    code = _CLEANUP.format(root=ROOT, sleep=sleep, grace=grace)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, timeout=60).stdout
    return json.loads(out)


def test_orphaned_grandchild_is_adopted_and_waited_for():
    # seen after its parent exited, ends on its own, nothing is left
    assert _cleanup(sleep=0.5, grace=10.0) == [1, 0, 0]


def test_lingering_descendant_is_terminated():
    assert _cleanup(sleep=60, grace=0.2) == [1, 1, 0]


def test_parse_size_reads_total_and_task_max():
    assert parse_size("12.0 KiB", "sum") == 12 * 1024
    many = ("total (min, med, max (stageId: taskId))\n"
            "256.0 MiB (64.0 MiB, 64.0 MiB, 65.0 MiB (stage 12.0: task 22))")
    assert parse_size(many, "sum") == 256 << 20
    assert parse_size(many, "max") == 65 << 20
    assert parse_size("1,594.0 B", "sum") == 1594


# ------------------------------------------------- generator determinism
def test_corpus_generator_is_seeded():
    a = inputs.table_digest(inputs.corpus_table(3, base_docs=60, k=2))
    b = inputs.table_digest(inputs.corpus_table(3, base_docs=60, k=2))
    c = inputs.table_digest(inputs.corpus_table(4, base_docs=60, k=2))
    assert a == b
    assert a != c


def test_corpus_generator_injects_suffixed_copies_and_duplicates():
    t = inputs.corpus_table(5, base_docs=100, k=2).to_pandas()
    base, copy = t[t.doc_id < 10**9], t[(t.doc_id >= 10**9) & (t.doc_id < 2 * 10**9)]
    assert len(base) == len(copy) == 100
    assert all(w.endswith("~1") for w in copy.text.iloc[0].split(" "))
    extra = t[t.doc_id >= 2 * 10**9]
    assert len(extra) == 12  # 3% exact + 3% near of 200
    assert extra.text.isin(base.text.tolist() + copy.text.tolist()).sum() >= 6


def test_refresh_batches_are_seeded_and_carry_late_share():
    assert inputs.refresh_batch(7, 5) == inputs.refresh_batch(7, 5)
    assert inputs.refresh_batch(7, 5).seed != inputs.refresh_batch(8, 5).seed
    late = [inputs.refresh_batch(7, i).late for i in range(40)]
    assert sum(late) == 40 // inputs.REFRESH_LATE_EVERY
    for i in range(40):
        b = inputs.refresh_batch(7, i)
        day = (b.start_epoch - inputs.EPOCH) // inputs.DAY_S
        assert day in ((1, 2) if b.late else (3,))


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("PYTHONPATH", ROOT)
    from tsdat_spark.session import get_spark

    s = get_spark(cores=2)
    yield s


def test_transcript_generator_digest_is_seeded(spark, tmp_path):
    from tsdat_spark.synth import generate_transcripts

    shape = dict(n_convs=20, base_turns=10, n_mega=1, mega_turns=50,
                 conv_spacing_s=60, turn_gap_s=20)
    digests = []
    for run, seed in enumerate((11, 11, 12)):
        path = str(tmp_path / f"t{run}")
        generate_transcripts(spark, inputs.transcript_spec(seed, 2, **shape)).write.parquet(path)
        digests.append(inputs.parquet_digest(path))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]
