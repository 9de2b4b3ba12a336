"""Correctness oracle: checks engine outputs against the generated input.

Expected values are computed with DuckDB straight from the materialized
parquet files — a second engine, so a Spark-side defect cannot agree with
itself. Every check returns a list of problem strings; an operation whose
checks return any problem counts as failed.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import duckdb

# rules every per-partition verdict grid must contain (besides the
# plan-time schema rules, which are one global row each at part -1)
SCHEMA_RULES = ("R001_schema_missing_column", "R002_schema_extra_column",
                "R003_schema_type_mismatch")
META_RULES = (
    "R010_sr_null", "R011_sr_range", "R012_dur_null", "R013_dur_range",
    "R014_codec_allowed", "R015_transcript_nonempty",
    "R017_stats_dur_ms_min", "R017_stats_dur_ms_null_rate",
    "R017_stats_sr_hz_max", "R017_stats_sr_hz_min", "R017_stats_sr_hz_null_rate",
    "R018_speaking_rate", "R020_unique_clip_id",
    "R030_transcript_missing", "R031_transcript_orphan", "R032_transcript_mismatch",
    "R040_codec_allowed_values",
    "R080_transcript_lang", "R081_transcript_quality", "R082_transcript_tokens",
)
DRIFT_RULES = (
    "R050_drift_psi", "R051_drift_ks", "R060_decode", "R061_duration_consistency",
    "R062_codec_fidelity", "R063_clipping", "R064_silence", "R065_dc_offset",
    "R066_bandwidth", "R067_speech_rate", "R068_container_meta",
)
DRIFT_SCORE_RULES = ("R050_drift_psi", "R051_drift_ks")


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _src(path: str) -> str:
    files = _files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def input_truth(clips_dir: str, transcripts_dir: str) -> dict:
    """Per-partition expected counts from the input files alone.

    Join semantics follow the checks' definitions: a duplicated key counts
    every row that carries it; the transcript comparison counts every
    joined (clip row, transcript row) pair whose texts differ, null-safe."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW c AS SELECT clip_id, part_id, transcript FROM {_src(clips_dir)}")
        con.execute(f"CREATE VIEW t AS SELECT clip_id, transcript FROM {_src(transcripts_dir)}")

        def per_part(sql: str) -> dict[int, int]:
            return {int(p): int(n) for p, n in con.execute(sql).fetchall()}

        n_rows = con.execute("SELECT count(*) FROM c").fetchone()[0]
        parts = sorted(int(p) for (p,) in con.execute(
            "SELECT DISTINCT part_id FROM c").fetchall())
        dup_rows = per_part(
            "SELECT part_id, count(*) FROM c WHERE clip_id IN "
            "(SELECT clip_id FROM c GROUP BY clip_id HAVING count(*) > 1) GROUP BY 1")
        missing = per_part(
            "SELECT part_id, count(*) FROM c ANTI JOIN t USING (clip_id) GROUP BY 1")
        mismatch = per_part(
            "SELECT c.part_id, count(*) FROM c JOIN t USING (clip_id) "
            "WHERE c.transcript IS DISTINCT FROM t.transcript GROUP BY 1")
        orphans = con.execute(
            "SELECT count(*) FROM t ANTI JOIN c USING (clip_id)").fetchone()[0]
    finally:
        con.close()
    return {"n_rows": int(n_rows), "parts": parts, "dup_rows": dup_rows,
            "missing": missing, "mismatch": mismatch, "orphans": int(orphans)}


def read_verdicts(out_dir: str) -> list[tuple]:
    """(run_id, part_id, rule_id, passed, n_violations) for every verdict row."""
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT run_id, part_id, rule_id, passed, n_violations FROM "
            + _src(os.path.join(out_dir, "verdicts"))).fetchall()
    finally:
        con.close()


def row_counts(out_dir: str) -> tuple[int, int]:
    """(verdict rows, ledger rows) currently under ``out_dir``."""
    con = duckdb.connect()
    try:
        return tuple(
            int(con.execute(f"SELECT count(*) FROM {_src(os.path.join(out_dir, d))}").fetchone()[0])
            if _files(os.path.join(out_dir, d)) else 0
            for d in ("verdicts", "ledger"))
    finally:
        con.close()


def ledger_parts(out_dir: str) -> dict[str, set[int]]:
    """check_id -> part ids with a ``done`` ledger row."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT check_id, part_id FROM " + _src(os.path.join(out_dir, "ledger"))
            + " WHERE status = 'done'").fetchall()
    finally:
        con.close()
    out: dict[str, set[int]] = {}
    for check, part in rows:
        out.setdefault(check, set()).add(int(part))
    return out


def grid_problems(verdicts: list[tuple], parts: list[int],
                  required_rules: tuple[str, ...]) -> list[str]:
    """Every rule has exactly one verdict per partition (schema rules: one
    at part -1), and every required rule is present."""
    problems = []
    cells = Counter((r[2], r[1]) for r in verdicts)
    dups = sorted(k for k, n in cells.items() if n > 1)
    if dups:
        problems.append(f"{len(dups)} duplicated (rule, part) verdicts, e.g. {dups[:3]}")
    by_rule: dict[str, set[int]] = {}
    for rule, part in cells:
        by_rule.setdefault(rule, set()).add(part)
    want = set(parts)
    for rule, got in sorted(by_rule.items()):
        expect = {-1} if rule in SCHEMA_RULES else want
        if got != expect:
            problems.append(f"{rule}: verdict parts missing {sorted(expect - got)[:5]} "
                            f"extra {sorted(got - expect)[:5]}")
    absent = sorted(set(required_rules) - set(by_rule))
    if absent:
        problems.append(f"rules without verdicts: {absent}")
    return problems


def drift_problems(verdicts: list[tuple], planted: set[int]) -> list[str]:
    """The drift score rules fail exactly the planted partitions."""
    failed = {int(r[1]) for r in verdicts if r[2] in DRIFT_SCORE_RULES and not r[3]}
    if failed != planted:
        return [f"drift failed parts {sorted(failed)}, planted {sorted(planted)}"]
    return []


def count_problems(verdicts: list[tuple], truth: dict) -> list[str]:
    """Uniqueness and referential violation counts equal the DuckDB counts."""
    got: dict[str, Counter] = {}
    for _, part, rule, _, nv in verdicts:
        got.setdefault(rule, Counter())[int(part)] += int(nv or 0)
    problems = []
    for rule, key in (("R020_unique_clip_id", "dup_rows"),
                      ("R030_transcript_missing", "missing"),
                      ("R032_transcript_mismatch", "mismatch")):
        engine = {p: n for p, n in got.get(rule, Counter()).items() if n}
        if engine != truth[key]:
            problems.append(f"{rule}: engine {sum(engine.values())} in {len(engine)} parts, "
                            f"input {sum(truth[key].values())} in {len(truth[key])} parts")
    orphans = sum(got.get("R031_transcript_orphan", Counter()).values())
    if orphans != truth["orphans"]:
        problems.append(f"R031_transcript_orphan: engine {orphans}, input {truth['orphans']}")
    return problems
