"""Per-layer measurements of the traced run.

``install_spans`` wraps the public function of each engine layer so the
traced closed-loop window records a span per call. ``run_probe`` then calls
each layer directly on one small fixed input (its own seeded shard with
payloads, identical across workloads) and returns the per-layer metrics.
"""

from __future__ import annotations

import statistics
import time

from semantic_log_detector_spark.checks import drift as drift_mod
from semantic_log_detector_spark.checks.base import RunContext
from semantic_log_detector_spark.functions import audio
from semantic_log_detector_spark.plans import incremental, ledger, report, runner, sketch_state
from semantic_log_detector_spark.plans.runner import ALL_CHECKS, SuiteConfig
from semantic_log_detector_spark.schema import CLIPS_SCHEMA
from semantic_log_detector_spark.sources import payload_scan

import oracle
from workloads import NUM_PARTS, WORKLOADS, materialize_shard

PROBE_ROWS = 440
PROBE_SHARD = 9  # shard id distinct from the workload inputs' shards
DECODE_CODECS = ("pcm_s16le", "flac", "mulaw", "alaw", "adpcm_ima")
DECODE_SAMPLE = 8
META_CHECKS = ("row_rules", "stats", "uniqueness", "referential", "frequency",
               "transcript_quality")

# (module, attribute, span name): every layer entry point the engine calls
# through a module attribute, so wrapping the attribute sees each call
LAYER_FUNCTIONS = [
    (runner, "run_suite", "plans.runner.run_suite"),
    (incremental, "run_suite", "plans.runner.run_suite"),
    (runner, "schema_check", "checks.schema"),
    (runner, "run_row_rules", "checks.row_rules"),
    (runner, "stats_check", "checks.stats"),
    (runner, "uniqueness_check", "checks.uniqueness"),
    (runner, "referential_check", "checks.referential"),
    (runner, "frequency_check", "checks.frequency"),
    (runner, "transcript_quality_check", "checks.transcript_quality"),
    (runner, "drift_check", "checks.drift"),
    (drift_mod, "decode_stats", "checks.drift.decode_stats"),
    (payload_scan, "validate_payload_path", "sources.payload_scan.validate_payload_path"),
    (payload_scan, "payload_stats_scan", "sources.payload_scan.payload_stats_scan"),
    (payload_scan, "list_row_groups", "sources.payload_scan.list_row_groups"),
    (ledger, "completed_map", "plans.ledger.completed_map"),
    (ledger, "append", "plans.ledger.append"),
    (ledger, "write_local_rows", "plans.ledger.write_local_rows"),
    (report, "write_report", "plans.report.write_report"),
    (report, "summarize", "plans.report.summarize"),
    (incremental, "validate_increment", "plans.incremental.validate_increment"),
    (incremental, "list_data_files_df", "plans.incremental.list_data_files_df"),
    (sketch_state, "write_increment_sketches", "plans.sketch_state.write_increment_sketches"),
]


def install_spans(tracer) -> None:
    for module, attr, name in LAYER_FUNCTIONS:
        tracer.wrap(module, attr, name)


def _timed(fn, reps: int = 1):
    """(median seconds over ``reps`` calls, result of the last call)."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def decode_micro(clips_dir: str) -> dict[str, float]:
    """In-process decode_clip / clip_features_ex over a fixed payload sample:
    the first DECODE_SAMPLE decodable payloads per codec in clip_id order."""
    import pyarrow.parquet as pq

    t = pq.read_table(clips_dir, columns=["clip_id", "codec", "bytes"])
    rows = sorted(zip(*(t.column(c).to_pylist() for c in ("clip_id", "codec", "bytes"))))
    out, decoded = {}, []
    for codec in DECODE_CODECS:
        per_clip = []
        for _, c, buf in rows:
            if c != codec or buf is None:
                continue
            try:
                pcm, sr = audio.decode_clip(buf, codec)
            except (ValueError, NotImplementedError):
                continue  # planted truncated payloads
            decoded.append((pcm, sr))
            per_clip.append(_timed(lambda: audio.decode_clip(buf, codec), reps=3)[0])
            if len(per_clip) == DECODE_SAMPLE:
                break
        if not per_clip:
            raise RuntimeError(f"no decodable {codec} payload in the probe input")
        out[f"functions.audio.decode_us.{codec}"] = statistics.median(per_clip) * 1e6
    feats = [_timed(lambda: audio.clip_features_ex(pcm, sr), reps=3)[0] for pcm, sr in decoded]
    out["functions.audio.features_us"] = statistics.median(feats) * 1e6
    return out


def _check_builders(clips, meta, transcripts, ctx, cfg: SuiteConfig, clips_dir: str):
    from semantic_log_detector_spark.checks.row_rules import default_clip_rules

    return {
        "row_rules": lambda: runner.run_row_rules(
            meta, default_clip_rules(cfg.allowed_codecs, cfg.sr_range, cfg.dur_range,
                                     cfg.rate_range), ctx),
        "stats": lambda: runner.stats_check(
            meta, ctx, {c: list(e) for c, e in cfg.stats_expectations}),
        "uniqueness": lambda: runner.uniqueness_check(meta, ctx),
        "referential": lambda: runner.referential_check(meta, transcripts, ctx),
        "frequency": lambda: runner.frequency_check(meta, ctx, allowed=cfg.allowed_codecs),
        "transcript_quality": lambda: runner.transcript_quality_check(meta, ctx),
        "drift": lambda: runner.drift_check(
            clips, ctx, psi_threshold=cfg.psi_threshold, ks_threshold=cfg.ks_threshold,
            payload_path=clips_dir, transcripts=transcripts),
    }


def run_probe(spark, tracer, root: str, seed: int) -> dict[str, float]:
    m: dict[str, float] = {}
    with tracer.span("probe.materialize"):
        materialize_shard(spark, root, PROBE_SHARD, seed, PROBE_ROWS, with_bytes=True)
    clips_dir, tr_dir = f"{root}/clips", f"{root}/transcripts"

    with tracer.span("probe.sources"):
        def scan(drop_bytes: bool):
            df = spark.read.parquet(clips_dir)
            (df.drop("bytes") if drop_bytes else df).write.format("noop").mode("overwrite").save()

        m["sources.parquet.meta_scan_s"] = _timed(lambda: scan(True), reps=3)[0]
        m["sources.parquet.payload_scan_s"] = _timed(lambda: scan(False), reps=3)[0]
        list_s, groups = _timed(lambda: payload_scan.list_row_groups(clips_dir), reps=5)
        m["sources.payload_scan.list_s"] = list_s
        m["sources.payload_scan.row_groups"] = len(groups)

    with tracer.span("probe.functions.audio"):
        m.update(decode_micro(clips_dir))

    cfg = WORKLOADS["full_suite"].cfg
    ctx = RunContext(run_id="probe", num_parts=NUM_PARTS)
    clips = spark.read.parquet(clips_dir)
    transcripts = spark.read.parquet(tr_dir)
    meta = clips.drop("bytes")
    with tracer.span("probe.checks"):
        m["checks.schema.build_s"] = _timed(
            lambda: runner.schema_check(clips, CLIPS_SCHEMA, ctx))[0]
        for name, build in _check_builders(clips, meta, transcripts, ctx, cfg,
                                           clips_dir).items():
            build_s, res = _timed(build)
            t0 = time.perf_counter()
            n_viol = res.violations.count()
            verdicts = res.verdicts.collect()
            exec_s = time.perf_counter() - t0
            res.release()
            m[f"checks.{name}.build_s"] = build_s
            m[f"checks.{name}.exec_s"] = exec_s
            if name in META_CHECKS:
                m[f"checks.{name}.violations"] = n_viol
            else:
                m["checks.drift.decode_clips_per_s"] = PROBE_ROWS / build_s
                fid = [v for v in verdicts if v["rule_id"] == "R062_codec_fidelity"]
                n_fake = sum(int(v["observed"].split("=", 1)[1]) for v in fid)
                m["checks.drift.fake_decode_ratio"] = n_fake / sum(v["n_rows"] for v in fid)

    with tracer.span("probe.plans.runner"):
        scfg = SuiteConfig(num_parts=NUM_PARTS,
                           checks=tuple(c for c in ALL_CHECKS if c != "drift"), waves=2)
        out = f"{root}/suite"

        def suite(max_waves=None):
            return runner.run_suite(spark, spark.read.parquet(clips_dir), transcripts, out,
                                    scfg, input_fingerprint="probe", max_waves=max_waves)

        first = suite(max_waves=1)
        m["plans.runner.resume_s"], second = _timed(suite)
        m["plans.runner.noop_rerun_s"] = _timed(suite)[0]
        tm: dict[str, float] = {}
        for res in (first, second):
            for k, v in res.timings.items():
                tm[k] = tm.get(k, 0.0) + v
        m["plans.runner.plan_s"] = sum(v for k, v in tm.items() if k.startswith("plan_"))
        m["plans.runner.exec_collect_s"] = tm["exec_collect_s"]
        m["plans.runner.write_s"] = tm["write_verdicts_s"] + tm["write_violations_s"]
        m["plans.ledger.completed_map_s"] = _timed(lambda: ledger.completed_map(
            spark, f"{out}/ledger", "probe", scfg.config_hash()), reps=5)[0]
        m["plans.ledger.rows"] = oracle.row_counts(out)[1]
        m["plans.report.write_report_s"] = _timed(lambda: report.write_report(spark, out))[0]

    with tracer.span("probe.plans.incremental"):
        icfg = SuiteConfig(num_parts=NUM_PARTS, checks=("row_rules",))
        iout = f"{root}/incremental"
        n_files, _ = incremental.validate_increment(spark, clips_dir, iout, icfg)
        noop_s, (n_new, _) = _timed(
            lambda: incremental.validate_increment(spark, clips_dir, iout, icfg))
        if n_files < 1 or n_new != 0:
            raise RuntimeError(f"incremental probe: bootstrap {n_files} files, "
                               f"no-op rerun saw {n_new} new files")
        m["plans.incremental.noop_s"] = noop_s
        m["plans.incremental.list_files_s"] = _timed(
            lambda: incremental.list_data_files_df(spark, clips_dir).count(), reps=3)[0]
        m["plans.incremental.ledger_files"] = incremental.increment_history(spark, iout).count()
        m["plans.sketch_state.write_s"] = _timed(lambda: sketch_state.write_increment_sketches(
            spark, spark.read.parquet(clips_dir), f"{root}/sketch", "probe"))[0]
    return m
