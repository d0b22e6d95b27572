"""bench.py's round-over-round comparator: recovery of prior-round
artifacts (the driver wraps the bench stdout line and keeps only a
2000-char tail, so queries/query_mips must be recoverable from a
left-truncated JSON fragment)."""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import _prev_payload  # noqa: E402

REPO = Path(__file__).resolve().parents[1]


def test_prev_payload_direct_queries():
    p = _prev_payload({"queries": {"q": 1.0}, "sf": 0.1})
    assert p["queries"] == {"q": 1.0}


def test_prev_payload_parsed_form():
    p = _prev_payload(
        {"sf": 0.1, "parsed": {"queries": {"q": 2.0}, "sf": 0.1}}
    )
    assert p["queries"] == {"q": 2.0}


def test_prev_payload_truncated_tail():
    tail = (
        '.319, "b_q": 1.353, "c_q": 0.864}, "sf": 0.1, '
        '"host_mips": 29.877, "host_mips_post": 29.882, '
        '"query_mips": {"a_q": 29.2, "b_q": 23.5, "c_q": 28.9}, '
        '"retried": [], "plan_violations": {}}'
    )
    p = _prev_payload({"sf": 0.1, "tail": tail, "parsed": None})
    # the left-truncated first query is lost; the parseable ones survive
    assert p["queries"] == {"b_q": 1.353, "c_q": 0.864}
    assert p["query_mips"] == {"a_q": 29.2, "b_q": 23.5, "c_q": 28.9}
    assert p["host_mips"] == 29.877
    assert p["sf"] == 0.1


def test_prev_payload_unrecoverable():
    assert _prev_payload({"sf": 0.1, "tail": "garbage", "parsed": None}) \
        is None


def test_prev_payload_real_r13_artifact():
    """The actual committed r13 wrapper must recover (this is the file
    the r14 comparator runs against)."""
    f = REPO / "BENCH_r13.json"
    if not f.exists():
        return
    p = _prev_payload(json.loads(f.read_text()))
    assert p is not None
    assert len(p["queries"]) >= 10
    assert len(p["query_mips"]) >= 25
    assert p["sf"] == 0.1


def test_merge_bench_last_agreeing_and_stale(tmp_path):
    """query_mips live only in bench_last.json (the stdout line keeps
    its bytes for per-query seconds); the comparator merges them back
    ONLY when the file's seconds agree exactly with the wrapper's on
    the whole intersection."""
    from bench import _merge_bench_last

    last = {
        "queries": {"a": 1.0, "b": 2.0, "c": 3.0},
        "query_mips": {"a": 25.0, "b": 26.0, "c": 27.0},
        "host_mips": 28.0,
    }
    (tmp_path / "bench_last.json").write_text(json.dumps(last))
    # agreeing wrapper payload (tail lost query 'a'): mips merge in,
    # and the lost query's seconds come back from the file
    p = {"queries": {"b": 2.0, "c": 3.0}, "sf": 0.1}
    m = _merge_bench_last(p, str(tmp_path))
    assert m["query_mips"] == last["query_mips"]
    assert m["queries"] == {"a": 1.0, "b": 2.0, "c": 3.0}
    assert m["host_mips"] == 28.0
    # stale file (one value disagrees): refused wholesale
    p2 = {"queries": {"b": 2.5, "c": 3.0}, "sf": 0.1}
    m2 = _merge_bench_last(p2, str(tmp_path))
    assert "query_mips" not in m2 and m2["queries"] == p2["queries"]
    # missing file: payload unchanged
    m3 = _merge_bench_last(p, str(tmp_path / "nowhere"))
    assert m3 == p


def test_prev_payload_keeps_wrapper_cpus():
    """The per-round wrapper records the run's core count beside its SF;
    every recovered form must keep it."""
    tail = '"b_q": 1.353, "c_q": 0.864}, "sf": 0.1, "host_mips": 29.8}'
    assert _prev_payload(
        {"sf": 0.1, "cpus": 32, "tail": tail, "parsed": None}
    )["cpus"] == 32
    assert _prev_payload(
        {"sf": 0.1, "cpus": 32, "parsed": {"queries": {"q": 2.0}, "sf": 0.1}}
    )["cpus"] == 32
    # a line that records its own core count wins over the wrapper's
    assert _prev_payload(
        {"cpus": 32, "parsed": {"queries": {"q": 2.0}, "cpus": 4}}
    )["cpus"] == 4
    f = REPO / "BENCH_r17.json"
    if f.exists():
        assert _prev_payload(json.loads(f.read_text()))["cpus"] == 32


def test_rounds_compare_only_at_same_sf_and_cores():
    from bench import _comparable

    prev = {"sf": 0.1, "cpus": 32}
    assert _comparable(prev, 0.1, 32)
    assert not _comparable(prev, 0.1, 4)    # cross-core ratios refused
    assert not _comparable(prev, 0.01, 32)  # as cross-SF ones always were
    # an unrecorded value is no evidence either way
    assert _comparable({"sf": 0.1}, 0.1, 4)
    assert _comparable(prev, 0.1, None)
