"""The benchmark workloads.

Each workload generates its seeded inputs in ``setup`` (staged as Parquet
under the run's work directory by the benchmark process itself, so the
engine receives only those inputs), then repeats ``cycle`` — one fixed unit of work that ends in the
same table state class every time — until the phase clock runs out.
Every cycle checks its outputs against a model the benchmark keeps
itself; a failed check marks its op failed.

Why these: the ingest part of ``ingest_upsert`` is the streaming-append
sink plus the compact + Z-order maintenance the engine exists for, and
its upsert part puts point reads and full scans beside COW and MoR merges
on the same files; ``audio_augment`` is bound by the audio kernels and the
Arrow/pandas UDF boundary with no metadata or commit work (the control for
changes to the metadata layers); ``metadata_scale`` is the only one where
the planner and the commit path dominate, at 10^12 virtual rows.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from collections import Counter
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from lakehouse import Table
from lakehouse import audio
from lakehouse.meta.manifests import DataFileEntry
from lakehouse.schema import CLIPS_SCHEMA
from lakehouse.synth import clip_id_for, make_clip_row

from harness import Bench, pct

DATE_SPEC = [{"name": "event_date", "transform": "identity", "source": "event_date"}]
N_DAYS = 8
MB = 1e6
WAV_HEADER = 44  # RIFF + fmt(16) + data chunk headers written by synth.wrap_wav

_ARROW_SCHEMA = pa.schema([
    pa.field("clip_id", pa.string(), nullable=False),
    pa.field("bytes", pa.binary()),
    pa.field("sr_hz", pa.int32()),
    pa.field("dur_ms", pa.int32()),
    pa.field("codec", pa.string()),
    pa.field("transcript", pa.string()),
    pa.field("ingest_ts", pa.timestamp("us", tz="UTC")),
    pa.field("event_date", pa.date32()),
])


def stage_clips(path: str, spec: list[tuple[int, int, int, int]]) -> list[dict]:
    """Generate clips for ``spec`` rows (batch, idx, src, row_seed) and
    write one Parquet file per batch under ``path/batch=<n>/``. The
    payload comes from ``(row_seed, src)``; ``idx != src`` stages a
    byte-identical copy of clip ``src`` under its own id (a known
    duplicate). Returns the model columns of every row."""
    by_batch: dict[int, list[dict]] = {}
    for batch, idx, src, row_seed in spec:
        row = make_clip_row(src, row_seed, N_DAYS)
        if idx != src:
            row["clip_id"] = f"dup-{idx:012d}"
        by_batch.setdefault(batch, []).append(row)
    model = []
    for batch, rows in by_batch.items():
        pdf = pd.DataFrame(rows)
        pdf["ingest_ts"] = pd.to_datetime(pdf["ingest_ts"]).dt.tz_localize("UTC")
        out = os.path.join(path, f"batch={batch}")
        os.makedirs(out)
        pq.write_table(pa.Table.from_pandas(pdf, schema=_ARROW_SCHEMA,
                                            preserve_index=False),
                       os.path.join(out, "part-0.parquet"))
        model += [
            {"batch": batch, "clip_id": r["clip_id"], "transcript": r["transcript"],
             "sr_hz": r["sr_hz"], "dur_ms": r["dur_ms"], "nbytes": len(r["bytes"])}
            for r in rows
        ]
    return model


def read_batch(bench: Bench, stage: str, batch: int):
    return bench.spark.read.schema(CLIPS_SCHEMA).parquet(f"{stage}/batch={batch}")


def live_bytes(t: Table) -> int:
    return sum(e.file_size_bytes for e in t.plan().files)


def check_table(bench: Bench, t: Table, name: str, expected: Counter, op) -> None:
    """Table.verify() is consistent and the (clip_id, transcript)
    multiset equals the model's."""
    rep = t.verify()
    bench.check(f"{name}.verify", rep["consistent"], rep, op)
    got = Counter(
        (r[0], r[1])
        for r in t.scan(columns=["clip_id", "transcript"]).collect()
    )
    bench.check(
        f"{name}.rows", got == expected,
        f"{sum(got.values())} rows vs {sum(expected.values())} expected", op,
    )


class Workload:
    name = ""
    # size overrides for the warm-up instance: the same cycle on a tiny
    # input, run before the timed phase so that one-time costs (class
    # loading, query code generation, Python worker start) land in set-up
    WARMUP: dict[str, Any] = {}
    # cycles a run makes at least: enough that today's phase is longer
    # than the run's --seconds, so the cycle count does not flip between
    # runs on small speed differences
    MIN_CYCLES = 1

    def __init__(self, bench: Bench, warmup: bool = False) -> None:
        self.bench = bench
        self.rng = np.random.default_rng(bench.seed)
        self.sizes: dict[str, Any] = {}
        if warmup:
            for k, v in self.WARMUP.items():
                setattr(self, k, v)

    def setup(self) -> tuple[float, float]:
        """Generate inputs and build tables; returns (input_gen_s,
        table_build_s)."""
        raise NotImplementedError

    def cycle(self) -> None:
        raise NotImplementedError

    def metrics(self) -> dict[str, float]:
        """The workload's own end-to-end figures (name → value)."""
        return {}

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.bench.work, self.name, *parts)


def _ops(bench: Bench, *kinds: str) -> list[dict]:
    return [o for o in bench.ops if o["kind"] in kinds]


# --------------------------------------------------------------------------


class IngestMaintain(Workload):
    """Micro-batch appends into a fresh date-partitioned table (many
    small files and manifests), then compact, Z-order cluster, expire and
    orphan GC."""

    name = "ingest_maintain"
    BATCHES = 5
    CLIPS_PER_BATCH = 40
    COMPACT_TARGET = 16 * 1024 * 1024
    WARMUP = {"BATCHES": 2, "CLIPS_PER_BATCH": 8}

    def setup(self):
        n = self.BATCHES * self.CLIPS_PER_BATCH
        t0 = time.perf_counter()
        batch_of = self.rng.permutation(n) % self.BATCHES
        spec = [(int(batch_of[i]), i, i, self.bench.seed) for i in range(n)]
        self.stage = self._dir("stage")
        rows = stage_clips(self.stage, spec)
        self.expected = Counter((r["clip_id"], r["transcript"]) for r in rows)
        self.batch_bytes = Counter()
        for r in rows:
            self.batch_bytes[r["batch"]] += r["nbytes"]
        gen_s = time.perf_counter() - t0
        self.sizes = {"clips": n, "batches": self.BATCHES,
                      "payload_mb": round(sum(self.batch_bytes.values()) / MB, 3),
                      "event_dates": N_DAYS}
        return gen_s, 0.0

    def cycle(self):
        b = self.bench
        root = self._dir(f"t{b.cycles}")
        with b.untimed():
            t = Table.create(b.spark, root, CLIPS_SCHEMA, partition_spec=DATE_SPEC)
        for batch in range(self.BATCHES):
            with b.op("append", mb=self.batch_bytes[batch] / MB):
                t.append(read_batch(b, self.stage, batch))
            with b.untimed():
                b.sample_storage(root, live_bytes(t))
        for kind in ("compact", "cluster"):
            with b.op(kind) as rec:
                if kind == "compact":
                    r = t.compact(target_file_size=self.COMPACT_TARGET)
                else:
                    r = t.cluster(["clip_id", "ingest_ts"], curve="zorder")
                rec["bytes_rewritten"] = r.bytes_rewritten
            with b.untimed():
                b.sample_storage(root, live_bytes(t))
                check_table(b, t, f"ingest.{kind}", self.expected, rec)
        with b.op("expire"):
            t.expire_snapshots(keep_last=1)
        with b.untimed():
            b.sample_storage(root, live_bytes(t))
        with b.op("gc") as rec:
            g = t.remove_orphan_files(older_than_ms=int(time.time() * 1000))
            rec["files_removed"] = len(g.deleted_files)
        with b.untimed():
            b.sample_storage(root, live_bytes(t))
            rep = t.verify()
            b.check("ingest.gc.verify", rep["consistent"], rep, rec)
            shutil.rmtree(root)
            b.forget_storage(root)

    def metrics(self):
        b = self.bench
        app = _ops(b, "append")
        mnt = _ops(b, "compact", "cluster")
        return {
            "ingest_mb_per_s": sum(o["mb"] for o in app) / sum(o["s"] for o in app),
            "maintain_mb_per_s": sum(o["bytes_rewritten"] for o in mnt) / MB
            / sum(o["s"] for o in mnt),
        }


class UpsertLookup(Workload):
    """Rounds of COW merge, MoR merge, point lookups and a full scan on a
    clustered table; materialize + expire + GC close every cycle."""

    name = "upsert_lookup"
    BASE = 200
    BATCH = 40
    STAGED_ROUNDS = 3
    ROUNDS_PER_CYCLE = 1
    LOOKUPS = 10
    WARMUP = {"BASE": 20, "BATCH": 4, "STAGED_ROUNDS": 1, "LOOKUPS": 2}

    def setup(self):
        s = self.bench.seed
        t0 = time.perf_counter()
        spec = [(0, i, i, s) for i in range(self.BASE)]
        key_space = self.BASE + self.BASE // 5  # the tail keys are inserts
        for bid in range(1, 2 * self.STAGED_ROUNDS + 1):
            keys = self.rng.choice(key_space, self.BATCH, replace=False)
            spec += [(bid, int(k), int(k), s * 1000 + bid) for k in keys]
        self.stage = self._dir("stage")
        rows = stage_clips(self.stage, spec)
        self.batches: dict[int, list[dict]] = {}
        for r in rows:
            self.batches.setdefault(r["batch"], []).append(r)
        self.model = {
            r["clip_id"]: (r["transcript"], r["nbytes"]) for r in self.batches[0]
        }
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.root = self._dir("table")
        self.t = Table.create(self.bench.spark, self.root, CLIPS_SCHEMA,
                              partition_spec=DATE_SPEC)
        self.t.append(read_batch(self.bench, self.stage, 0))
        self.t.cluster(["clip_id", "ingest_ts"], curve="zorder")
        build_s = time.perf_counter() - t0
        self.round = 0
        self.sizes = {
            "base_clips": self.BASE, "batch_rows": self.BATCH,
            "base_mb": round(sum(v[1] for v in self.model.values()) / MB, 3),
            "rounds_per_cycle": self.ROUNDS_PER_CYCLE, "lookups_per_round": self.LOOKUPS,
        }
        return gen_s, build_s

    def _expected(self) -> Counter:
        return Counter((k, v[0]) for k, v in self.model.items())

    def cycle(self):
        b, t = self.bench, self.t
        for _ in range(self.ROUNDS_PER_CYCLE):
            r = self.round % self.STAGED_ROUNDS
            self.round += 1
            upserted = []
            for bid, mode in ((1 + 2 * r, "cow"), (2 + 2 * r, "mor")):
                rows = self.batches[bid]
                mb = sum(x["nbytes"] for x in rows) / MB
                with b.op(f"merge_{mode}", mb=mb, src_rows=len(rows)) as rec:
                    res = t.merge(read_batch(b, self.stage, bid), mode=mode)
                    rec["rows_written"] = res.rows_written
                with b.untimed():
                    for x in rows:
                        self.model[x["clip_id"]] = (x["transcript"], x["nbytes"])
                    upserted += [x["clip_id"] for x in rows]
                    b.sample_storage(self.root, live_bytes(t))
            keys = list(self.rng.choice(upserted, self.LOOKUPS // 2, replace=False))
            keys += list(self.rng.choice(sorted(self.model), self.LOOKUPS - len(keys),
                                         replace=False))
            for k in keys:
                with b.op("lookup") as rec:
                    got = [x[0] for x in t.scan(filter=[("clip_id", "=", k)],
                                                columns=["transcript"]).collect()]
                with b.untimed():
                    b.check("upsert.lookup", got == [self.model[k][0]],
                            f"{k}: {got} vs {self.model[k][0]!r}", rec)
            with b.op("full_scan") as rec:
                n, total = t.scan().agg(
                    F.count(F.lit(1)), F.sum(F.length("bytes"))
                ).collect()[0]
                rec["mb"] = (total or 0) / MB
            with b.untimed():
                want = (len(self.model), sum(v[1] for v in self.model.values()))
                b.check("upsert.full_scan", (n, total) == want,
                        f"{(n, total)} vs {want}", rec)
        with b.op("materialize"):
            t.materialize_deletes()
        with b.untimed():
            b.sample_storage(self.root, live_bytes(t))
        with b.op("expire"):
            t.expire_snapshots(keep_last=1)
        with b.op("gc") as rec:
            t.remove_orphan_files(older_than_ms=int(time.time() * 1000))
        with b.untimed():
            b.sample_storage(self.root, live_bytes(t))
            check_table(b, t, "upsert.cycle", self._expected(), rec)

    def metrics(self):
        b = self.bench
        cow, mor = _ops(b, "merge_cow"), _ops(b, "merge_mor")
        look = [o["s"] * 1000 for o in _ops(b, "lookup")]
        scans = _ops(b, "full_scan")
        return {
            "merge_cow_p50_ms": pct([o["s"] * 1000 for o in cow], 50),
            "merge_mor_p50_ms": pct([o["s"] * 1000 for o in mor], 50),
            "lookup_p50_ms": pct(look, 50),
            "lookup_p90_ms": pct(look, 90),
            "scan_mb_per_s": sum(o["mb"] for o in scans) / sum(o["s"] for o in scans),
        }


def _speed_len(n: int, f: float) -> int:
    # the interpolation length speed_perturb_clips computes per factor
    return n if f == 1.0 else max(1, int(round(n / f)))


class AudioAugment(Workload):
    """Payload transforms over a compacted table, each forced through
    sum(length(bytes)), plus near-duplicate pair detection."""

    name = "audio_augment"
    CLIPS = 200
    DUPS = 10
    SPEED_FACTORS = (0.9, 1.0, 1.1)
    PITCH = 1.1
    WARMUP = {"CLIPS": 12, "DUPS": 2}
    MIN_CYCLES = 2

    TRANSFORMS = {
        "transcode": lambda df: audio.transcode_clips(df, "mulaw"),
        "speed_perturb": lambda df: audio.speed_perturb_clips(df, AudioAugment.SPEED_FACTORS),
        "reverb": lambda df: audio.reverb_clips(df, seed=7),
        "pitch_shift": lambda df: audio.pitch_shift_clips(df, AudioAugment.PITCH),
    }

    def setup(self):
        s = self.bench.seed
        t0 = time.perf_counter()
        spec = [(0, i, i, s) for i in range(self.CLIPS)]
        srcs = self.rng.choice(self.CLIPS, self.DUPS, replace=False)
        spec += [(0, self.CLIPS + j, int(src), s) for j, src in enumerate(srcs)]
        self.dup_pairs = {
            frozenset((clip_id_for(int(src)), f"dup-{self.CLIPS + j:012d}"))
            for j, src in enumerate(srcs)
        }
        self.stage = self._dir("stage")
        rows = stage_clips(self.stage, spec)
        n = [r["sr_hz"] * r["dur_ms"] // 1000 for r in rows]
        self.mb_in = sum(r["nbytes"] for r in rows) / MB
        self.expect = {
            "transcode": sum(WAV_HEADER + k for k in n),
            "speed_perturb": sum(
                WAV_HEADER + 2 * _speed_len(k, f) for k in n for f in self.SPEED_FACTORS
            ),
            "reverb": sum(WAV_HEADER + 2 * k for k in n),
            "pitch_shift": sum(WAV_HEADER + 2 * k for k in n),
        }
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.root = self._dir("table")
        self.t = Table.create(self.bench.spark, self.root, CLIPS_SCHEMA,
                              partition_spec=DATE_SPEC)
        for part in range(2):  # two appends, so there is something to compact
            self.t.append(read_batch(self.bench, self.stage, 0)
                          .filter(F.abs(F.hash("clip_id")) % 2 == part))
        self.t.compact(target_file_size=16 * 1024 * 1024)
        build_s = time.perf_counter() - t0
        self.sizes = {"clips": len(rows), "known_dup_pairs": self.DUPS,
                      "payload_mb": round(self.mb_in, 3)}
        return gen_s, build_s

    def cycle(self):
        b, t = self.bench, self.t
        for kind, fn in self.TRANSFORMS.items():
            with b.op(kind, mb_in=self.mb_in) as rec:
                total, nulls = fn(t.scan()).agg(
                    F.sum(F.length("bytes")),
                    F.count(F.when(F.col("bytes").isNull(), 1)),
                ).collect()[0]
                rec["mb_out"] = (total or 0) / MB
                rec["null_outputs"] = nulls
            with b.untimed():
                b.check(f"audio.{kind}", total == self.expect[kind] and nulls == 0,
                        f"sum={total} expected={self.expect[kind]} nulls={nulls}", rec)
        with b.op("dup_pairs", mb_in=self.mb_in) as rec:
            pairs = audio.audio_dup_pairs(t.scan()).select("clip_a", "clip_b").collect()
            rec["mb_out"] = 0.0
            rec["null_outputs"] = 0
        with b.untimed():
            found = {frozenset((p[0], p[1])) for p in pairs}
            missing = self.dup_pairs - found
            b.check("audio.dup_pairs", not missing, f"missing {sorted(map(sorted, missing))[:3]}", rec)
        if b.cycles == 0:
            with b.untimed():
                b.sample_storage(self.root, live_bytes(t))

    def metrics(self):
        b = self.bench
        aug = _ops(b, *self.TRANSFORMS, "dup_pairs")
        return {"augment_mb_per_s": sum(o["mb_out"] for o in aug) / sum(o["s"] for o in aug)}


class MetadataScale(Workload):
    """No data files: virtual DataFileEntry commits describing ~10^12
    rows, seeded plans of four filter shapes, count_rows, a one-day
    delete commit, rewrite_manifests, then more plans."""

    name = "metadata_scale"
    COMMITS = 24
    DAYS_PER_COMMIT = 4
    FILES_PER_DAY = (60, 91)  # uniform, per day
    ROWS_PER_FILE = (100_000_000, 180_000_000)
    VIRTUAL_FILE_BYTES = 512 * 1024 * 1024
    PLANS_BEFORE = 32
    PLANS_AFTER = 8
    WARMUP = {"COMMITS": 2, "PLANS_BEFORE": 4, "PLANS_AFTER": 4}
    MIN_CYCLES = 2
    DAY0 = dt.date(2020, 1, 1)

    def setup(self):
        t0 = time.perf_counter()
        rng = np.random.default_rng(self.bench.seed)
        n_days = self.COMMITS * self.DAYS_PER_COMMIT
        self.files_per_day = rng.integers(*self.FILES_PER_DAY, n_days)
        # (path, day index, file index in day, rows)
        self.files = []
        for d in range(n_days):
            for f in range(int(self.files_per_day[d])):
                rows = int(rng.integers(*self.ROWS_PER_FILE))
                self.files.append((f"data/virtual/d{d:03d}/f{f:04d}.parquet", d, f, rows))
        self.deleted_day = int(rng.integers(0, n_days))
        max_f = int(self.files_per_day.max())
        shapes = ("day", "week", "clip", "day_clip")
        self.plans = []
        for i in range(self.PLANS_BEFORE + self.PLANS_AFTER):
            shape = shapes[i % 4]
            day = int(rng.integers(0, n_days))
            clip = int(rng.integers(0, max_f * 1000))
            self.plans.append((shape, day, clip))
        gen_s = time.perf_counter() - t0
        self.sizes = {
            "virtual_files": len(self.files), "commits": self.COMMITS,
            "virtual_rows": sum(x[3] for x in self.files),
            "plans": len(self.plans),
        }
        return gen_s, 0.0

    def _day(self, d: int) -> dt.date:
        return self.DAY0 + dt.timedelta(days=d)

    def _entry(self, path, d, f, rows) -> DataFileEntry:
        day = self._day(d).isoformat()
        lo = f * 1000
        return DataFileEntry(
            file_path=path, partition={"event_date": day}, record_count=rows,
            file_size_bytes=self.VIRTUAL_FILE_BYTES,
            stats={
                "clip_id": {"min": f"clip-{lo:012d}", "max": f"clip-{lo + 999:012d}",
                            "null_count": 0},
                "event_date": {"min": day, "max": day, "null_count": 0},
            },
        )

    def _filter(self, shape, day, clip):
        d = self._day(day)
        key = f"clip-{clip:012d}"
        if shape == "day":
            return [("event_date", "=", d)]
        if shape == "week":
            return [("event_date", ">=", d), ("event_date", "<", d + dt.timedelta(days=7))]
        if shape == "clip":
            return [("clip_id", "=", key)]
        return [("event_date", "=", d), ("clip_id", "=", key)]

    @staticmethod
    def _expected(live, shape, day, clip) -> set:
        fc = clip // 1000
        if shape == "day":
            return {p for p, d, f, _ in live if d == day}
        if shape == "week":
            return {p for p, d, f, _ in live if day <= d < day + 7}
        if shape == "clip":
            return {p for p, d, f, _ in live if f == fc}
        return {p for p, d, f, _ in live if d == day and f == fc}

    def _plan(self, t, live, stage, shape, day, clip):
        b = self.bench
        with b.op("plan", shape=shape, stage=stage) as rec:
            p = t.plan(filter=self._filter(shape, day, clip))
        with b.untimed():
            got = {e.file_path for e in p.files}
            want = self._expected(live, shape, day, clip)
            b.check(f"meta.plan.{shape}", got == want,
                    f"{len(got)} kept vs {len(want)} expected", rec)

    def cycle(self):
        b = self.bench
        root = self._dir(f"t{b.cycles}")
        live = self.files
        live_bytes_now = 0
        with b.untimed():
            t = Table.create(b.spark, root, CLIPS_SCHEMA, partition_spec=DATE_SPEC)
        per_commit = self.DAYS_PER_COMMIT
        for c in range(self.COMMITS):
            with b.untimed():
                batch = [x for x in live if c * per_commit <= x[1] < (c + 1) * per_commit]
                entries = [self._entry(*x) for x in batch]
                live_bytes_now += len(entries) * self.VIRTUAL_FILE_BYTES
            with b.op("commit"):
                t._commit_files("append", entries, ())
            with b.untimed():
                b.sample_storage(root, live_bytes_now)
        for shape, day, clip in self.plans[: self.PLANS_BEFORE]:
            self._plan(t, live, "pre", shape, day, clip)
        with b.op("count_rows") as rec:
            n = t.count_rows().value
        with b.untimed():
            want = sum(x[3] for x in live)
            b.check("meta.count_rows", n == want, f"{n} vs {want}", rec)
        gone = [x for x in live if x[1] == self.deleted_day]
        live = [x for x in live if x[1] != self.deleted_day]
        with b.op("delete_commit"):
            t._commit_files("delete", [], [x[0] for x in gone])
        with b.untimed():
            live_bytes_now -= len(gone) * self.VIRTUAL_FILE_BYTES
            b.sample_storage(root, live_bytes_now)
        with b.op("rewrite_manifests") as rec:
            r = t.rewrite_manifests()
            rec["manifests_before"] = r.manifests_before
            rec["manifests_after"] = r.manifests_after
        with b.untimed():
            b.sample_storage(root, live_bytes_now)
        for shape, day, clip in self.plans[self.PLANS_BEFORE:]:
            self._plan(t, live, "post", shape, day, clip)
        with b.untimed():
            shutil.rmtree(root)
            b.forget_storage(root)

    def metrics(self):
        b = self.bench
        plans = [o["s"] * 1000 for o in _ops(b, "plan")]
        return {
            "plan_p50_ms": pct(plans, 50),
            "plan_p90_ms": pct(plans, 90),
            "commit_p50_ms": pct([o["s"] * 1000 for o in _ops(b, "commit")], 50),
        }


class IngestUpsert(Workload):
    """The table write and read paths in one cycle: the ingest + maintain
    part on a fresh table, then one upsert round with lookups, a full
    scan and maintenance on a persistent clustered table. The two parts
    share one JVM and one warm-up, which is what lets the benchmark fit
    its run budget; their figures stay separate by op kind."""

    name = "ingest_upsert"

    def __init__(self, bench: Bench, warmup: bool = False) -> None:
        super().__init__(bench, warmup)
        self.parts = (IngestMaintain(bench, warmup), UpsertLookup(bench, warmup))

    def setup(self):
        gen = build = 0.0
        for p in self.parts:
            g, b = p.setup()
            gen, build = gen + g, build + b
        self.sizes = {p.name: p.sizes for p in self.parts}
        return gen, build

    def cycle(self):
        for p in self.parts:
            p.cycle()

    def metrics(self):
        ingest, upsert = self.parts
        out = {**ingest.metrics(), **upsert.metrics()}
        user = self.bench.cycles * sum(ingest.batch_bytes.values()) + sum(
            o["mb"] for o in _ops(self.bench, "merge_cow", "merge_mor")) * MB
        out["write_amp"] = self.bench.bytes_written / user
        return out


WORKLOADS = {w.name: w for w in (IngestUpsert, AudioAugment, MetadataScale)}
