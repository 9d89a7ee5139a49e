"""The benchmark workloads, driven through the engine's public API.

Every workload is one closed-loop client in the driver process: it issues the
next call only after the previous one returned. Each run does a fixed amount
of work sized from ``--seconds`` (so parent and change do identical work) and
then reads back what it wrote:

- ``backlog_replay``: a pre-materialized WAL backlog replayed by
  ``MicroBatchRunner`` in a few large epochs into a fresh MoR table, with a
  compaction + expiry cadence. Per-event work dominates: the epochs are
  sized so it is about 60% of each epoch (see ``BacklogReplay``).
- ``serve_mixed``: rounds of one mid-size ``Engine.apply_epoch``, one
  single-key ``LakeTable.lookup`` and one ``CdfTailReplicator.poll()`` into a
  replica, over a pre-loaded table; even rounds add a key-predicate
  ``snapshot(where=...)`` scan and ``compact`` + ``expire_snapshots``.
  Per-epoch fixed cost and the read path dominate.

Both report the same read metrics (lookups and key-predicate scans over the
state their writes left, in the fixed LOOKUP_MIX / SCAN_MIX class mix), so a
write-side change that deepens delta layers or skips maintenance shows up as
a read regression on every workload.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import numpy as np

import reference
import walgen
from spans import Tracer

N_BUCKETS = 8
ZIPF_S = 1.1
# the read mix: one lookup and one scan per entry, in this order (see
# lookup_keys and scan_repos)
LOOKUP_MIX = ("live", "absent", "deleted", "live")
SCAN_MIX = ("cold", "hot", "cold", "hot")
# the host speed probe (Workload.speed_probe): its size, and its median CPU
# seconds on a quiet 4-core host, which sets the scale of the host-scaled
# figures (see host_slowdown)
PROBE_LONGS = 4_000_000
PROBE_REF_CPU_S = 0.60


class Checks:
    """Operations attempted and those that failed or returned a wrong
    answer."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok


def _stat_cpu_ticks(path: str) -> tuple[str, int]:
    """(comm, utime + stime) from a /proc .../stat file."""
    with open(path) as f:
        raw = f.read()
    head, rest = raw.rsplit(")", 1)
    fields = rest.split()
    return head.split("(", 1)[1], int(fields[11]) + int(fields[12])


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of the whole host from /proc/stat: time the
    hypervisor ran something else while a CPU of this machine wanted to run
    is the co-tenant contention every wall-clock figure here carries."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal


def steal_frac(before, after) -> float:
    busy, steal = (a - b for a, b in zip(after, before))
    return steal / (busy + steal) if busy + steal else 0.0


def unstolen(wall: float, host_before, host_after) -> float:
    """Wall seconds less the host's steal share over them: what the interval
    would have taken had the hypervisor not run a co-tenant on our CPUs.
    Unlike CPU seconds it still grows with waits, stalls and lost
    parallelism."""
    return wall * (1.0 - steal_frac(host_before, host_after))


class Clock:
    """Wall, CPU and unstolen wall seconds of the driver JVM plus this
    process.

    On a shared host the hypervisor steals 10-30% of CPU time in bursts,
    which moves wall-clock figures of the same work by up to half. CPU
    seconds move far less but miss I/O waits and lost parallelism; unstolen
    wall seconds (see ``unstolen``) see both and take the steal out. The
    JVM's JIT compiler threads are left out of CPU seconds: they compile in
    the background, so their CPU lands on whichever operation happens to be
    running. The session fixes their number, so none exits mid-interval."""

    def __init__(self, spark):
        self.pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.tick = os.sysconf("SC_CLK_TCK")

    def _jit_ticks(self) -> int:
        total = 0
        task_dir = f"/proc/{self.pid}/task"
        for tid in os.listdir(task_dir):
            try:
                comm, ticks = _stat_cpu_ticks(f"{task_dir}/{tid}/stat")
            except FileNotFoundError:  # thread exited while listing
                continue
            if "CompilerThre" in comm:
                total += ticks
        return total

    def now(self) -> tuple[float, float, tuple[int, int]]:
        """(wall s, CPU s, host (busy, stolen) jiffies)."""
        _, jvm = _stat_cpu_ticks(f"/proc/{self.pid}/stat")
        jvm -= self._jit_ticks()
        t = os.times()
        return time.perf_counter(), jvm / self.tick + t.user + t.system, cpu_jiffies()

    @contextlib.contextmanager
    def timed(self, into: list):
        """Append (wall, cpu, unstolen wall) seconds of the block to
        ``into``."""
        w0, c0, h0 = self.now()
        try:
            yield
        finally:
            w1, c1, h1 = self.now()
            into.append((w1 - w0, c1 - c0, unstolen(w1 - w0, h0, h1)))

    def wrap(self, fn, into: list):
        """``fn`` with each call's (wall, cpu, unstolen wall) appended to
        ``into``."""
        def call(*args, **kwargs):
            with self.timed(into):
                return fn(*args, **kwargs)
        return call


def host_slowdown(probe: list) -> float:
    """How much slower the host ran during a pass than the quiet reference
    host: the median probe CPU seconds over PROBE_REF_CPU_S.

    Co-tenants on a shared host slow every instruction, not only by steal:
    the same pass used 20-30% more or less CPU and unstolen wall seconds
    from one minute to the next, and the probe's CPU moved with it. The
    probe's wall time (0.2 s on four threads) is too short to follow it."""
    return statistics.median(c for _, c, _ in probe) / PROBE_REF_CPU_S


def lookup_keys(rng, ref: reference.ReferenceState, classes) -> list[tuple]:
    """One key per entry of ``classes``: ``live`` is a seeded-Zipf draw over
    live keys, ``deleted`` a tombstoned key, ``absent`` a never-written one.
    The classes are fixed per workload, so the seed picks the keys but not
    the mix: a run with one more bloom-pruned miss than another reads less."""
    live = sorted(ref.live)
    order = rng.permutation(len(live))
    weights = 1.0 / np.arange(1, len(live) + 1) ** ZIPF_S
    weights /= weights.sum()
    deleted = sorted(ref.deleted)
    keys = []
    for cls in classes:
        if cls == "live":
            keys.append(live[order[rng.choice(len(live), p=weights)]])
        elif cls == "deleted" and deleted:
            keys.append(deleted[rng.integers(len(deleted))])
        else:
            repo = walgen.repo_name(int(rng.integers(walgen.N_REPOS)))
            keys.append((repo, f"src/absent/k{int(rng.integers(1 << 30))}.py"))
    return keys


def scan_repos(rng, ref: reference.ReferenceState, classes) -> list[str]:
    """One repo per entry of ``classes``: ``hot`` is the repo with the most
    live rows (~30% of the table), ``cold`` a seeded draw among the rest."""
    counts: dict[str, int] = {}
    for repo, _ in ref.live:
        counts[repo] = counts.get(repo, 0) + 1
    hot = max(sorted(counts), key=counts.__getitem__)
    cold = sorted(r for r in counts if r != hot)
    return [hot if cls == "hot" else cold[rng.integers(len(cold))] for cls in classes]


class Workload:
    """Shared plumbing: inputs, engine tables, the read probe, final checks.

    Subclasses define ``plan`` (the input size), ``preload`` and ``write``."""

    name = ""

    def __init__(self, spark, work: str, seed: int, seconds: int):
        self.spark = spark
        self.work = work
        self.seconds = seconds
        self.clock = Clock(spark)
        self.rng = np.random.default_rng([seed, 7])
        self.plan()
        self.events = walgen.generate(seed, self.n_events)
        self.wal_files: list[str] = []

    # -------------------------------------------------------------- engine
    def new_engine(self, wh: str):
        from data_exchange_hl7_spark import Engine

        shutil.rmtree(wh, ignore_errors=True)
        eng = Engine(self.spark, wh, n_buckets=N_BUCKETS, mode="mor")
        return eng, eng.snapshot_table()

    def read_wal(self, files: list[str]):
        from data_exchange_hl7_spark.sources import wal_schema

        return self.spark.read.schema(wal_schema()).parquet(*files)

    def apply_range(self, eng, table, lo: int, hi: int, epoch: int,
                    into: list | None = None) -> None:
        """Apply WAL lsn range [lo, hi) as one epoch, timed into ``into``."""
        files = walgen.write_files(
            self.events, os.path.join(self.work, "wal_epochs"), [lo, hi]
        )
        self.wal_files += files
        with self.clock.timed([] if into is None else into):
            eng.apply_epoch(self.read_wal(files), table, epoch=epoch)

    # ---------------------------------------------------------------- reads
    def lookup(self, table, key, ref, checks: Checks, tracer: Tracer, into) -> None:
        """One single-key lookup, checked against the reference state."""
        with tracer.span("lake.lookup") as s, self.clock.timed(into):
            df, stats = table.lookup([key], with_stats=True)
            rows = df.select("content_sha256", "last_lsn").collect()
        if s is not None:
            s.attrs["result"] = stats
        want = ref.live.get(key)
        got = [(r[0], r[1]) for r in rows]
        checks.check(got == ([want] if want else []), f"lookup {key}: {got} != {want}")

    def scan(self, table, repo, ref, checks: Checks, tracer: Tracer, into) -> None:
        """One key-predicate read (all files of one repo), checked."""
        with tracer.span("lake.scan") as s, self.clock.timed(into):
            rows = (
                table.snapshot(where=[("repo", "=", repo)])
                .select("repo", "path", "content_sha256", "last_lsn")
                .collect()
            )
        if s is not None:
            s.attrs["rows"] = len(rows)
        want = reference.state_digest(r for r in ref.rows() if r[0] == repo)
        got = reference.state_digest(tuple(r) for r in rows)
        checks.check(got == want, f"scan {repo}: {got} != {want}")

    def probe(self, table, ref, checks, tracer, lookups, scans, out) -> None:
        """Timed lookups and key-predicate scans, one per entry of the
        ``lookups`` (LOOKUP_MIX) and ``scans`` (SCAN_MIX) classes."""
        for key in lookup_keys(self.rng, ref, lookups):
            self.lookup(table, key, ref, checks, tracer, out["lookup"])
        for repo in scan_repos(self.rng, ref, scans):
            self.scan(table, repo, ref, checks, tracer, out["scan"])

    def speed_probe(self, into) -> None:
        """The host's speed right now, from fixed JDK-only work in the driver
        JVM: PROBE_LONGS seeded longs generated and sorted on the common
        fork-join pool, twice, one sample each (one 0.6 CPU s sample
        alone moved by ~10% between neighbours). No engine or Spark code runs
        in it, and no object of it outlives the call."""
        rand = self.spark._jvm.java.util.SplittableRandom(42)
        for _ in range(2):
            with self.clock.timed(into):
                rand.longs(PROBE_LONGS).parallel().sorted().sum()

    def verify_state(self, table, ref, checks: Checks, what: str) -> None:
        """Whole-table digest against the reference, and the per-row
        sha256(content) = content_sha256 invariant, from one read."""
        cols = ["repo", "path", "content_sha256", "last_lsn", "content"]
        arrow = table.snapshot().select(*cols).toArrow()
        got = reference.state_digest(
            zip(*(arrow.column(c).to_pylist() for c in cols[:4]))
        )
        checks.check(got == ref.digest(), f"{what} state {got} != {ref.digest()}")
        bad = reference.bad_content_hashes(arrow)
        checks.check(bad == 0, f"{what}: {bad} rows with sha256(content) != content_sha256")

    @staticmethod
    def dir_bytes(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path)
            for f in fs
        )

    # ------------------------------------------------------------ one pass
    def run_pass(self, tag: str, checks: Checks, tracer: Tracer,
                 reads: bool = True) -> dict:
        """Pre-load, write, read back and verify on fresh tables. Returns
        raw timings and the handles the trace needs. ``reads=False`` skips
        the timed reads (a throughput-only pass); the final state is still
        verified."""
        self.reads = reads
        self.wal_files = []
        # each list holds (wall, cpu, unstolen wall) seconds per call
        out = {k: [] for k in
               ("setup", "write", "batch", "maintenance", "lookup", "scan", "probe")}
        wh = os.path.join(self.work, tag, "wh")
        eng, table = self.new_engine(wh)
        with tracer.paused(), self.clock.timed(out["setup"]):
            self.preload(eng, table, tag, checks)
            for _ in range(2):  # the probe's JIT warm-up
                self.speed_probe([])
        # host speed probes before, between (serve_mixed rounds) and after
        # the timed phases
        self.speed_probe(out["probe"])
        self.write(eng, table, tag, checks, tracer, out)
        self.speed_probe(out["probe"])
        ref = reference.ReferenceState(self.wal_files, self.n_events)
        self.read_back(table, ref, checks, tracer, out)
        self.speed_probe(out["probe"])
        self.verify_state(table, ref, checks, tag)
        out["storage_amp"] = self.dir_bytes(wh) / ref.live_bytes
        out.update(engine=eng, table=table, ref=ref)
        return out

    def warm_up(self, checks: Checks) -> None:
        """Set-up work outside the measured tables (default: none)."""

    def preload(self, eng, table, tag: str, checks: Checks) -> None:
        """State the measured writes start from (default: an empty table)."""

    def warm_reads(self, table, ref, checks) -> None:
        """One lookup and scan outside the samples: the first of each pays
        one-time costs (code generation, class loading) that belong in
        set-up."""
        self.probe(
            table, ref, checks, Tracer(), LOOKUP_MIX[:1], SCAN_MIX[:1],
            {"lookup": [], "scan": []},
        )

    def read_back(self, table, ref, checks, tracer, out) -> None:
        if not self.reads:
            return
        with self.clock.timed(out["setup"]):
            self.warm_reads(table, ref, checks)
        self.probe(table, ref, checks, tracer, LOOKUP_MIX, SCAN_MIX, out)


class BacklogReplay(Workload):
    name = "backlog_replay"
    # apply_epoch of n events over a loaded table on 4 cores fits
    # 2.4 s + 81 us * n wall (3.1 + 0.135 ms * n CPU s): at 20k events the
    # fixed part is more than half of an epoch, at 40k about 40%
    epoch_size = 40_000
    compact_every = 2

    def plan(self):
        self.n_epochs = max(2, round(self.seconds / 7.5))
        self.n_events = self.n_epochs * self.epoch_size

    def runner(self, eng, epoch_size: int, compact_every: int):
        from data_exchange_hl7_spark.streaming.runner import MicroBatchRunner

        return MicroBatchRunner(
            eng, epoch_size=epoch_size, compact_every=compact_every,
            expire_keep_last=1,
        )

    def warm_up(self, checks):
        # one full-size epoch: Spark picks plans (AQE, split sizing) by input
        # size, so a smaller one would leave the measured epochs' code
        # generation to the timed pass
        eng, table = self.new_engine(os.path.join(self.work, "warm", "wh"))
        files = walgen.write_files(
            self.events, os.path.join(self.work, "warm", "wal"), [0, self.epoch_size]
        )
        self.runner(eng, self.epoch_size, 1).run(self.read_wal(files), table)

    def write(self, eng, table, tag, checks, tracer, out):
        bounds = list(range(0, self.n_events + 1, self.epoch_size))
        self.wal_files = walgen.write_files(
            self.events, os.path.join(self.work, tag, "wal"), bounds
        )
        runner = self.runner(eng, self.epoch_size, self.compact_every)
        timed_apply = self.clock.wrap(eng.apply_epoch, out["batch"])
        n_outer = len(out["probe"])

        def apply_epoch(*args, **kwargs):
            # a host speed probe before each epoch, so the probes cover the
            # write as densely as serve_mixed's rounds; its span keeps it out
            # of the runner's self time, and its time is taken out of the
            # write's below
            with tracer.span("bench.probe"):
                self.speed_probe(out["probe"])
            return timed_apply(*args, **kwargs)

        # the runner calls these on the instances it was given
        eng.apply_epoch = apply_epoch
        table.compact = self.clock.wrap(table.compact, out["maintenance"])
        table.expire_snapshots = self.clock.wrap(
            table.expire_snapshots, out["maintenance"]
        )
        try:
            with self.clock.timed(out["write"]):
                stats = runner.run(self.read_wal(self.wal_files), table)
        finally:
            del eng.apply_epoch, table.compact, table.expire_snapshots
        inner = list(zip(*out["probe"][n_outer:]))
        out["write"][-1] = tuple(t - sum(p) for t, p in zip(out["write"][-1], inner))
        checks.check(
            [s.get("applied") for s in stats] == [True] * self.n_epochs,
            f"replay epochs not all applied: {stats}",
        )
        out["events"] = self.n_events


class ServeMixed(Workload):
    name = "serve_mixed"
    preload_events = 6_000
    epoch_events = 2_000

    def plan(self):
        # a round is ~6 s wall on 4 cores: one epoch, one lookup, one poll,
        # and on even rounds a scan and the maintenance (3 rounds at 15 s:
        # 4 took longer per run than the benchmark's time budget allows)
        self.n_rounds = max(2, round(self.seconds / 5))
        self.n_events = self.preload_events + self.n_rounds * self.epoch_events

    def preload(self, eng, table, tag, checks):
        from data_exchange_hl7_spark.lake.table import LakeTable
        from data_exchange_hl7_spark.streaming.cdf_tail import CdfTailReplicator

        # the last pre-load epoch has the rounds' size, so their plans are
        # generated here and not in the first timed round
        split = self.preload_events - self.epoch_events
        self.apply_range(eng, table, 0, split, epoch=-2)
        self.apply_range(eng, table, split, self.preload_events, epoch=-1)
        table.compact()
        snap = table.current_snapshot()
        loc = os.path.join(self.work, tag, "replica")
        self.replica = LakeTable.create(
            self.spark, loc,
            [(f["name"], f["type"]) for f in table.schema_fields()],
            snap["key_cols"], n_buckets=N_BUCKETS, mode="mor",
            order_col=snap["order_col"],
        )
        self.tail = CdfTailReplicator(table, self.replica)
        self.tail.run_until_caught_up()
        ref = reference.ReferenceState(self.wal_files, self.preload_events)
        self.warm_reads(table, ref, checks)

    def write(self, eng, table, tag, checks, tracer, out):
        out["cdf_poll"] = []
        for k in range(self.n_rounds):
            if k:
                self.speed_probe(out["probe"])
            lo = self.preload_events + k * self.epoch_events
            hi = lo + self.epoch_events
            self.apply_range(eng, table, lo, hi, epoch=1 + k, into=out["batch"])
            if self.reads:
                ref = reference.ReferenceState(self.wal_files, hi)
                # round k looks up class k of LOOKUP_MIX and even rounds
                # scan the next SCAN_MIX class
                self.probe(
                    table, ref, checks, tracer,
                    LOOKUP_MIX[k % len(LOOKUP_MIX):][:1],
                    () if k % 2 else SCAN_MIX[k // 2 % len(SCAN_MIX):][:1], out,
                )
                with self.clock.timed(out["cdf_poll"]):
                    st = self.tail.poll()
                checks.check(st["applied"] and st["to_sid"] == st["head"], f"poll {st}")
            # even rounds: the reads of rounds 0, 1, 2 see delta depth 1,
            # 1, 2
            if k % 2 == 0:
                with self.clock.timed(out["maintenance"]):
                    table.compact()
                    # keep two snapshots: the replica's offset and the head
                    table.expire_snapshots(2)
        out["write"].append(tuple(map(sum, zip(*out["batch"], *out["maintenance"]))))
        out["events"] = self.n_rounds * self.epoch_events

    def read_back(self, table, ref, checks, tracer, out):
        """The rounds did the timed reads; catch the replica up and check it
        equals upstream. A throughput-only pass never polled, and upstream
        expiry has removed the snapshots its replica would need."""
        if not self.reads:
            return
        st = self.tail.poll()
        checks.check(st["to_sid"] == st["head"], f"final poll {st}")
        got = reference.state_digest(
            tuple(r) for r in self.replica.snapshot()
            .select("repo", "path", "content_sha256", "last_lsn").collect()
        )
        checks.check(got == ref.digest(), f"replica {got} != upstream {ref.digest()}")


WORKLOADS = {w.name: w for w in (BacklogReplay, ServeMixed)}
