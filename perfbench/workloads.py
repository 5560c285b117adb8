"""The benchmark's workloads. Each one builds its inputs from the seed
with the engine's own fixture generators, times calls into the engine's
public functions from outside, and checks the outputs after timing.

Sizes are fixed here, not by the caller, so every run of a workload does
the same work; ``--seconds`` only sets how many operations are timed,
above a minimum that each workload fixes.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from . import checks
from .trace import MemorySampler, Tracer, count_epoch_dirs, dir_bytes

# images_batch: planted image+caption rows per pipeline run
N_IMAGES = 2000
# caption_stream: rows in the seeded prior state, rows per later wave
CAPTION_PRIOR = 400
CAPTION_WAVE = 100
# media_stream: videos per wave, and how many of a later wave re-send
# content that is already indexed, under new ids
MEDIA_WAVE = 150
MEDIA_RESENT = 100
# media batches landed before timing: the cold one, then one warm-up,
# because the first warm batch is markedly slower and noisier than the
# ones after it; and the batches a run times at least, whatever
# --seconds says, because one batch alone is too noisy
MEDIA_UNTIMED = 2
MEDIA_MIN_TIMED = 2
# waves staged per timed second; a batch takes seconds, so the loop
# never runs out
WAVES_PER_SECOND = 0.5
COMMIT_TIMEOUT_S = 60.0
POLL_S = 0.1


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    # stopped when the timed part ends, so the peak excludes the checks
    memory: MemorySampler | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Outcome:
    """What a workload measured. ``latencies`` and ``rows`` hold one
    entry per timed operation; ``windows`` are the time windows whose
    Spark jobs the event log attributes to a layer (traced runs)."""

    setup_s: float = 0.0
    cold_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    rows: list[int] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    windows: dict[str, list[tuple[float, float]]] = field(default_factory=dict)
    layers: dict[str, list[float]] = field(default_factory=dict)
    # wall seconds of each part of the run, for the detail line
    phases: dict[str, float] = field(default_factory=dict)

    def phase(self, name: str, seconds: float) -> None:
        self.phases[name] = round(self.phases.get(name, 0.0) + seconds, 3)

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def window(self, name: str, start: float, end: float) -> None:
        self.windows.setdefault(name, []).append((start, end))


def _materialize(df) -> None:
    """Compute every column of a frame without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _n_waves(ctx: Ctx, min_timed: int = 1) -> int:
    return max(math.ceil(ctx.seconds * WAVES_PER_SECOND), min_timed) + 2


# ---------------------------------------------------------- images_batch

def images_batch(ctx: Ctx) -> Outcome:
    """Warm NearDupPipeline runs over one staged planted corpus, each
    materialized through clusters and then the tier report."""
    from ordinarydumpdeduplicator_spark.plans.pipeline import (
        NearDupPipeline,
        PipelineConfig,
    )

    spark, tracer, out = ctx.spark, ctx.tracer, Outcome()
    t0 = time.time()
    pdf, _, golden = _planted_images(N_IMAGES, ctx.seed)
    # one file per task slot, in id order, as spark.range would split it
    parts = spark.sparkContext.defaultParallelism
    bounds = np.linspace(0, N_IMAGES, parts + 1).astype(int)
    _stage_files(
        [pdf.iloc[a:b] for a, b in zip(bounds, bounds[1:])],
        ctx.path("images"), "part",
    )
    images = spark.read.parquet(ctx.path("images"))
    out.setup_s = time.time() - t0
    out.phase("generate_s", out.setup_s)
    assignments = []

    def run_checked(timed: bool) -> float:
        """One pipeline run through the tier report; returns its wall.
        Layers are recorded for timed runs only."""
        out.attempted += 1
        t = time.time()
        p = NearDupPipeline(spark, PipelineConfig())
        res = p.run(images)
        with tracer.span("tiers.report", "pipeline.run"):
            _materialize(res["tier_report"])
        wall = time.time() - t
        if tracer.enabled and timed:
            _pipeline_layers(out, p.cfg.metrics, t, tracer.spans[-1], wall)
        # collected outside the timed call; checked after the loop
        assignments.append([
            tuple(r)
            for r in res["clusters"].select("image_id", "cluster_id").collect()
        ])
        for df in res.values():
            df.unpersist()
        return wall

    out.cold_s = run_checked(timed=False)
    deadline = time.time() + ctx.seconds
    while time.time() < deadline:
        out.latencies.append(run_checked(timed=True))
        out.rows.append(N_IMAGES)
    ctx.memory.stop()

    t_check = time.time()
    readable = set(pdf.loc[pdf["bytes"].notna(), "image_id"])
    pairs = list(zip(golden["image_id_a"], golden["image_id_b"]))
    for i, assigned in enumerate(assignments):
        problems = checks.check_images(assigned, readable, pairs)
        if problems:
            out.failed += 1
            out.problems.extend(f"run {i}: {p}" for p in problems)
    out.phase("check_s", time.time() - t_check)
    return out


def _planted_images(n: int, seed: int):
    """The rows spark_images_df(n, seed) makes, with each row's planted
    class and the golden pairs, built on the driver: the rows are
    staged as files, so a Spark job would only collect them back."""
    from ordinarydumpdeduplicator_spark.fixtures.generator import (
        images_pdf_public,
        make_corpus,
    )

    pdf, golden = make_corpus(n, seed=seed)
    rows = images_pdf_public(pdf).astype({"w": "int32", "h": "int32"})
    return rows, pdf["_class"].to_numpy(), golden


def _interleave(classes: np.ndarray, rng) -> np.ndarray:
    """A seeded order of the rows in which each class's members, in
    shuffled order, sit at evenly spaced positions."""
    keys = np.empty(len(classes))
    for c in np.unique(classes):
        idx = np.flatnonzero(classes == c)
        keys[idx] = (rng.permutation(len(idx)) + rng.random()) / len(idx)
    return np.argsort(keys, kind="stable")


def _pipeline_layers(out: Outcome, metrics: list[dict], start: float,
                     report, wall: float) -> None:
    """Per-stage layers of one run from the pipeline's own stage metrics
    (wall_sec, rows_out). The stages run back to back from ``start``, so
    their event-log windows follow from the cumulative stage walls; the
    tier report has its own span."""
    at = start
    for m in metrics:
        name = f"pipeline.{m['stage']}"
        out.layer(f"{name}.wall_s", m["wall_sec"])
        out.layer(f"{name}.rows_out", m["rows_out"] or 0)
        out.window(name, at, at + m["wall_sec"])
        at += m["wall_sec"]
    out.layer(f"{report.name}.wall_s", report.end - report.start)
    out.window(report.name, report.start, report.end)
    covered = sum(m["wall_sec"] for m in metrics) + report.end - report.start
    out.layer("pipeline.span_coverage", covered / wall)
    # run() plans the lazy reports between the last stage and the span
    out.layer("pipeline.unspanned_s", wall - covered)


# ----------------------------------------------------------- the streams

class WaveLoop:
    """Closed-loop generator for a file-source stream: lands one staged
    wave file with an atomic rename, then waits for the batch that
    ingests it to commit before the caller lands the next. With one
    wave in flight, wave k is batch k of a fresh checkpoint."""

    def __init__(self, query, staged: list[str], input_dir: str, ck_dir: str):
        self.query = query
        self.staged = staged
        self.input_dir = input_dir
        self.commits = os.path.join(ck_dir, "commits")
        self.landed = 0

    def land(self) -> tuple[int, float, float]:
        """Land the next wave; returns (batch id, rename time,
        rename-to-commit seconds)."""
        batch = self.landed
        src = self.staged[batch]
        marker = os.path.join(self.commits, str(batch))
        t0 = time.time()
        os.rename(src, os.path.join(self.input_dir, os.path.basename(src)))
        while not os.path.exists(marker):
            if not self.query.isActive:
                raise RuntimeError(
                    f"stream stopped before batch {batch} committed: "
                    f"{self.query.exception()}"
                )
            if time.time() - t0 > COMMIT_TIMEOUT_S:
                raise RuntimeError(f"batch {batch} did not commit")
            # the batch's foreachBatch body runs Python in this process:
            # poll slowly so the waiting loop does not contend with it
            # for the interpreter lock; the marker's mtime dates the
            # commit exactly
            time.sleep(POLL_S)
        self.landed += 1
        return batch, t0, os.stat(marker).st_mtime - t0

    def progress(self, batches, timeout_s: float = 10.0) -> dict:
        """StreamingQueryProgress of the given batches. Progress is
        posted just after the commit, so wait briefly for the last."""
        deadline = time.time() + timeout_s
        while True:
            got = {
                p.batchId: p
                for p in self.query.recentProgress
                if p.batchId in batches and p.numInputRows
            }
            if len(got) == len(batches) or time.time() > deadline:
                return got
            time.sleep(0.05)


def _stage_files(chunks, staging: str, prefix: str) -> list[str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(staging, exist_ok=True)
    paths = []
    for k, chunk in enumerate(chunks):
        p = os.path.join(staging, f"{prefix}-{k:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), p)
        paths.append(p)
    return paths


def _progress_epoch(ts: str) -> float:
    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _stream_loop(ctx: Ctx, out: Outcome, loop: WaveLoop, rows: list[int],
                 after_commit=None, untimed: int = 1,
                 min_timed: int = 1) -> None:
    """``untimed`` waves first: the cold one, then warm-up waves that
    count as set-up. Then timed waves until the deadline has passed and
    at least ``min_timed`` were timed. Progress and per-batch layer
    numbers are read only in traced runs."""
    timed: dict[int, tuple[float, float]] = {}
    out.attempted += 1
    _, _, out.cold_s = loop.land()
    for _ in range(untimed - 1):
        out.attempted += 1
        warm = loop.land()[2]
        out.setup_s += warm
        out.phase("warmup_s", warm)
    deadline = time.time() + ctx.seconds
    while (
        time.time() < deadline or len(out.latencies) < min_timed
    ) and loop.landed < len(loop.staged):
        out.attempted += 1
        batch, landed_at, lat = loop.land()
        out.latencies.append(lat)
        out.rows.append(rows[batch])
        timed[batch] = (landed_at, lat)
        if ctx.tracer.enabled and after_commit is not None:
            after_commit(batch)
    if not ctx.tracer.enabled:
        return
    progress = loop.progress(set(timed))
    for batch, (landed_at, lat) in timed.items():
        p = progress.get(batch)
        if p is None:
            out.problems.append(f"no progress reported for batch {batch}")
            continue
        add = p.durationMs["addBatch"] / 1000.0
        trig = p.durationMs["triggerExecution"] / 1000.0
        start = _progress_epoch(p.timestamp)
        out.layer("stream.add_batch_s", add)
        out.layer("stream.trigger_overhead_s", trig - add)
        # from the rename until the trigger that picks the file up
        out.layer("stream.wait_s", start - landed_at)
        out.layer("stream.input_records_per_batch", p.numInputRows)
        out.window("stream", start, start + trig)


def _stop(query) -> None:
    query.stop()
    query.awaitTermination(60)


def caption_stream(ctx: Ctx) -> Outcome:
    """One long-lived pruned caption stream over a seeded prior state,
    fed one wave per batch."""
    from ordinarydumpdeduplicator_spark.operators.connected_components import (
        connected_components,
    )
    from ordinarydumpdeduplicator_spark.operators.features import (
        extract_features,
    )
    from ordinarydumpdeduplicator_spark.operators.lsh import caption_candidates
    from ordinarydumpdeduplicator_spark.operators.verify import (
        verify_caption_pairs,
    )
    from ordinarydumpdeduplicator_spark.schemas import IMAGES_SCHEMA
    from ordinarydumpdeduplicator_spark.streaming.near_dup import (
        load_assignments,
        stream_near_dup_clusters,
    )

    spark, out = ctx.spark, Outcome()
    inp, state, ck = ctx.path("in"), ctx.path("state"), ctx.path("ck")
    os.makedirs(inp)
    t0 = time.time()
    n_waves = _n_waves(ctx)
    n = CAPTION_PRIOR + CAPTION_WAVE * n_waves
    pdf, classes, _ = _planted_images(n, ctx.seed)
    # every planted class is spread evenly over the prior state and the
    # waves, so each wave re-sends duplicates of earlier rows, and every
    # wave carries the same mix whatever the seed
    order = _interleave(classes, np.random.default_rng(ctx.seed))
    cuts = [0] + [CAPTION_PRIOR + k * CAPTION_WAVE for k in range(n_waves + 1)]
    chunks = [pdf.iloc[order[a:b]] for a, b in zip(cuts, cuts[1:])]
    staged = _stage_files(chunks, ctx.path("staging"), "wave")
    query = stream_near_dup_clusters(
        spark, inp, state, ck, available_now=False, prune_state=True
    )
    loop = WaveLoop(query, staged, inp, ck)

    def assign_written(batch: int) -> None:
        out.layer(
            "state.assign_bytes_written",
            dir_bytes(os.path.join(state, "assign", f"epoch={batch}")),
        )

    out.setup_s = time.time() - t0
    out.phase("generate_s", out.setup_s)
    try:
        _stream_loop(ctx, out, loop, [len(c) for c in chunks], assign_written)
        ctx.memory.stop()
        # the stream's first batch seeds the prior state: set-up
        out.setup_s += out.cold_s
    finally:
        _stop(query)
    if ctx.tracer.enabled:
        _state_layers(out, state, index=("captions", "reps", "bands"))

    t_check = time.time()
    images = spark.read.schema(IMAGES_SCHEMA).parquet(inp)
    feats = extract_features(images).persist()
    pairs, star = caption_candidates(feats, bucket_cap=256)
    near = verify_caption_pairs(pairs, images)
    ref = connected_components(
        star.select("src", "dst").unionByName(near.select("src", "dst"))
    )
    reference = {r["image_id"]: r["cluster_id"] for r in ref.collect()}
    streamed = {
        r["image_id"]: r["cluster_id"]
        for r in load_assignments(spark, state).collect()
    }
    feats.unpersist()
    problems = checks.check_caption_stream(streamed, reference)
    if problems:
        # the state every batch built on is wrong
        out.failed = out.attempted
        out.problems.extend(problems)
    out.phase("check_s", time.time() - t_check)
    return out


def media_stream(ctx: Ctx) -> Outcome:
    """One long-lived video novelty stream under the default prune
    policy; later waves mostly re-send indexed content under new ids."""
    from ordinarydumpdeduplicator_spark.fixtures.generator import (
        gen_video_row,
    )
    from ordinarydumpdeduplicator_spark.operators.video_dedup import (
        VIDEO_FP_SCHEMA,
        video_fingerprints,
    )
    from ordinarydumpdeduplicator_spark.streaming.media_ingest import (
        load_media_verdicts,
        stream_media_novelty,
    )

    spark, out = ctx.spark, Outcome()
    inp, state, ck = ctx.path("in"), ctx.path("state"), ctx.path("ck")
    os.makedirs(inp)
    t0 = time.time()
    n_waves = _n_waves(ctx, MEDIA_UNTIMED + MEDIA_MIN_TIMED)
    fresh_per_wave = MEDIA_WAVE - MEDIA_RESENT
    # the rows spark_videos_df(n, seed) makes, built on the driver
    fresh = pd.DataFrame(
        [
            (r["video_id"], r["bytes"])
            for r in (
                gen_video_row(i, ctx.seed)
                for i in range(MEDIA_WAVE + fresh_per_wave * n_waves)
            )
        ],
        columns=["video_id", "bytes"],
    )
    rng = np.random.default_rng(ctx.seed)
    chunks = [fresh.iloc[:MEDIA_WAVE]]
    resent_ids: set[str] = set()
    for k in range(1, n_waves + 1):
        pool = pd.concat(chunks, ignore_index=True)
        picks = pool.iloc[rng.choice(len(pool), MEDIA_RESENT, replace=False)]
        copies = picks.assign(video_id=picks["video_id"] + f"~{k}")
        resent_ids.update(copies["video_id"])
        lo = MEDIA_WAVE + (k - 1) * fresh_per_wave
        chunks.append(
            pd.concat(
                [copies, fresh.iloc[lo:lo + fresh_per_wave]],
                ignore_index=True,
            )
        )
    staged = _stage_files(chunks, ctx.path("staging"), "wave")
    query = stream_media_novelty(
        spark, inp, state, ck,
        fingerprint_fn=video_fingerprints,
        input_schema="video_id string, bytes binary",
        fp_schema=VIDEO_FP_SCHEMA,
        id_col="video_id",
        hashes_col="frame_hashes",
        prefix="frame",
        available_now=False,
    )
    loop = WaveLoop(query, staged, inp, ck)
    out.setup_s = time.time() - t0
    out.phase("generate_s", out.setup_s)
    try:
        _stream_loop(ctx, out, loop, [len(c) for c in chunks],
                     untimed=MEDIA_UNTIMED, min_timed=MEDIA_MIN_TIMED)
        ctx.memory.stop()
    finally:
        _stop(query)
    if ctx.tracer.enabled:
        _state_layers(out, state, index=("fps", "keys"))

    t_check = time.time()
    landed = [i for c in chunks[: loop.landed] for i in c["video_id"]]
    verdicts = [
        (r["video_id"], r["outcome"])
        for r in load_media_verdicts(spark, state).collect()
    ]
    problems = checks.check_media_stream(
        verdicts, landed, resent_ids & set(landed)
    )
    if problems:
        out.failed = out.attempted
        out.problems.extend(problems)
    out.phase("check_s", time.time() - t_check)
    return out


def _state_layers(out: Outcome, state: str, index: tuple[str, ...]) -> None:
    out.layer(
        "state.index_bytes",
        sum(dir_bytes(os.path.join(state, s)) for s in index),
    )
    out.layer("state.bloom_bytes", dir_bytes(os.path.join(state, "blooms")))
    out.layer("state.epochs", count_epoch_dirs(state))


WORKLOADS = {
    "images_batch": images_batch,
    "caption_stream": caption_stream,
    "media_stream": media_stream,
}
