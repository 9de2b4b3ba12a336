import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import oracle


def _write(path, table):
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path / "part-0.parquet"))


@pytest.fixture()
def tiny(tmp_path):
    # parts 0 and 1; "b" duplicated in part 1; "c" has no transcript;
    # "a" transcript differs; "z" is an orphan transcript row
    clips = pa.table({
        "clip_id": ["a", "b", "b", "c", "d"],
        "part_id": pa.array([0, 1, 1, 0, 1], pa.int32()),
        "transcript": ["x", "y", "y", None, "w"],
    })
    transcripts = pa.table({
        "clip_id": ["a", "b", "d", "z"],
        "transcript": ["x!", "y", "w", "q"],
    })
    _write(tmp_path / "clips", clips)
    _write(tmp_path / "transcripts", transcripts)
    return tmp_path, oracle.input_truth(str(tmp_path / "clips"), str(tmp_path / "transcripts"))


def test_input_truth_counts(tiny):
    _, truth = tiny
    assert truth["n_rows"] == 5
    assert truth["parts"] == [0, 1]
    assert truth["dup_rows"] == {1: 2}
    assert truth["missing"] == {0: 1}
    assert truth["mismatch"] == {0: 1}
    assert truth["orphans"] == 1


def _verdicts(overrides=None):
    nv = {("R020_unique_clip_id", 1): 2, ("R030_transcript_missing", 0): 1,
          ("R032_transcript_mismatch", 0): 1, ("R031_transcript_orphan", 1): 1,
          ("R050_drift_psi", 1): 1}
    nv.update(overrides or {})
    rows = [("run", -1, r, True, 0) for r in oracle.SCHEMA_RULES]
    for rule in ("R020_unique_clip_id", "R030_transcript_missing", "R031_transcript_orphan",
                 "R032_transcript_mismatch", "R050_drift_psi", "R051_drift_ks"):
        for part in (0, 1):
            n = nv.get((rule, part), 0)
            rows.append(("run", part, rule, n == 0, n))
    return rows


def test_matching_outputs_pass(tiny):
    _, truth = tiny
    v = _verdicts()
    assert oracle.grid_problems(v, truth["parts"], oracle.SCHEMA_RULES) == []
    assert oracle.count_problems(v, truth) == []
    assert oracle.drift_problems(v, {1}) == []


def test_mismatches_are_reported(tiny):
    _, truth = tiny
    assert oracle.count_problems(_verdicts({("R020_unique_clip_id", 1): 1}), truth)
    assert oracle.count_problems(_verdicts({("R031_transcript_orphan", 1): 0}), truth)
    assert oracle.drift_problems(_verdicts(), {0, 1})
    assert oracle.drift_problems(_verdicts({("R051_drift_ks", 0): 1}), {1})
    v = _verdicts()
    assert oracle.grid_problems(v + [v[-1]], truth["parts"], ())  # duplicated cell
    assert oracle.grid_problems(v[:-1], truth["parts"], ())       # missing cell
    assert oracle.grid_problems(v, truth["parts"], ("R099_absent",))


def test_output_readers(tmp_path):
    out = tmp_path / "out"
    assert oracle.row_counts(str(out)) == (0, 0)
    _write(out / "verdicts", pa.table({
        "run_id": ["r", "r"], "part_id": pa.array([0, 1], pa.int32()),
        "rule_id": ["R020_unique_clip_id"] * 2, "passed": [True, False],
        "n_violations": pa.array([0, 2], pa.int64())}))
    _write(out / "ledger", pa.table({
        "check_id": ["uniqueness", "uniqueness", "schema"],
        "part_id": pa.array([0, 1, -1], pa.int32()),
        "status": ["done", "done", "done"]}))
    assert oracle.row_counts(str(out)) == (2, 3)
    assert oracle.ledger_parts(str(out)) == {"uniqueness": {0, 1}, "schema": {-1}}
    assert sorted(oracle.read_verdicts(str(out)))[1] == ("r", 1, "R020_unique_clip_id", False, 2)
