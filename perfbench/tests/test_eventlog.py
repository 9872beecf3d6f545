"""Event-log parser on a recorded fixture.

fixtures/events-small.jsonl was recorded from Spark 4.1.2 on local[4]:
one ``build_segment_index`` of 500 documents (job group
``setup.build``), one ``WandSearcher.search`` (``q.term``) and one
``search_many`` of two queries (``q.many``). It is trimmed to the
fields the parser reads; the temporary index path is replaced by
``/data/idx``. The expected figures below were summed from the
fixture's task events by hand, stage by stage.
"""

from pathlib import Path

import pytest

import eventlog

FIXTURE = Path(__file__).parent / "fixtures" / "events-small.jsonl"

# windows in epoch ms: from the first job's submission to just after the
# last stage of the phase was submitted
BUILD = (1792192649903, 1792192667700)   # jobs 0..24
MANY = (1792192672102, 1792192674000)    # jobs 39..42


@pytest.fixture(scope="module")
def log(tmp_path_factory):
    d = tmp_path_factory.mktemp("events")
    (d / "local-1").write_bytes(FIXTURE.read_bytes())
    return eventlog.load(d)


def test_window_totals(log):
    w = log.window(*MANY, cores=4)
    assert w["jobs"] == 4
    assert w["stages"] == 4
    assert w["tasks"] == 18
    assert w["executor_run_s"] == pytest.approx(3.016)
    assert w["executor_cpu_s"] == pytest.approx(0.459688556)
    assert w["shuffle_bytes"] == 2253
    assert w["bytes_to_python"] == 7920
    assert w["bytes_from_python"] == 1888
    assert w["rows_from_python"] == 40
    assert w["python_run_ms"] == 1942
    assert w["executor_busy_share"] == pytest.approx(3.016 / (1.898 * 4))


def test_build_phases(log):
    p = log.build_phases(*BUILD)
    assert {k: v["jobs"] for k, v in p.items()} == {
        "docid": 7, "analyze_invert": 3, "postings_write": 3,
        "docs_norms_write": 6, "commit": 6}
    busy = {k: round(v["busy_s"], 3) for k, v in p.items()}
    assert busy == {"docid": 14.473, "analyze_invert": 3.281,
                    "postings_write": 11.342, "docs_norms_write": 7.81,
                    "commit": 1.759}
    assert p["postings_write"]["shuffle_bytes"] == 3387664
    assert p["docid"]["shuffle_bytes"] == 513060
    assert len(log.jobs_in(*BUILD)) == 25


def test_insert_target():
    plan = ("(3) Execute InsertIntoHadoopFsRelationCommand\n"
            "Arguments: file:/x/idx/segments_meta_v4, false, Parquet\n")
    assert eventlog._insert_target(plan) == "segments_meta"
    assert eventlog._insert_target("+- Scan parquet (1)\n") is None
