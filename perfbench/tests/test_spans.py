from pathlib import Path

from spans import Attribution, SpanRecorder, parse_event_log, total

LOG = Path(__file__).with_name("small_eventlog.json")


def _facts():
    # two jobs recorded with local[2]: a mapInPandas over 200 rows written
    # to /data/out_a, then a group-by count of it written to /data/out_b
    return [f[1:] for f in parse_event_log(LOG)]  # drop the time


def test_parser_reads_python_crossing_metrics():
    facts = _facts()
    assert total(facts, "python.crossings") == 2  # one per task of the map
    assert total(facts, "python.rows_received") == 200
    assert total(facts, "python.bytes_sent") > 0
    assert total(facts, "python.bytes_received") > 0
    assert total(facts, "python.total_ms") > 0


def test_parser_tags_scans_and_writes_with_their_table():
    facts = _facts()
    out_a = lambda tag: tag.endswith("/data/out_a")  # noqa: E731
    out_b = lambda tag: tag.endswith("/data/out_b")  # noqa: E731
    assert total(facts, "write.rows", out_a) == 200
    assert total(facts, "write.rows", out_b) == 7
    assert total(facts, "write.files", out_a) == 2
    assert total(facts, "scan.rows", out_a) == 200
    assert total(facts, "scan.rows", out_b) == 0


def test_parser_counts_jobs_tasks_and_shuffle():
    facts = _facts()
    assert total(facts, "spark.jobs") == 4
    assert total(facts, "spark.tasks") == 6
    assert total(facts, "shuffle.write_bytes") == total(facts, "shuffle.read_bytes") > 0


def test_facts_go_to_the_innermost_open_span():
    rec = SpanRecorder()
    rec.spans = [
        dict(id=1, parent=None, name="op", start_ms=0.0, end_ms=100.0, attrs={}),
        dict(id=2, parent=1, name="save", start_ms=10.0, end_ms=20.0, attrs={}),
        dict(id=3, parent=None, name="later", start_ms=200.0, end_ms=300.0, attrs={}),
    ]
    facts = [
        (5.0, "spark.jobs", 1, ""),
        (15.0, "spark.jobs", 1, ""),
        (15.0, "spark.tasks", 3, ""),
        (250.0, "spark.jobs", 1, ""),
        (500.0, "spark.jobs", 1, ""),  # outside every span
    ]
    att = Attribution(rec.spans, facts)
    assert att.summary(1) == {"spark.jobs": 1}
    assert att.summary(2) == {"spark.jobs": 1, "spark.tasks": 3}
    assert total(att.facts(1), "spark.jobs") == 2  # its subtree
    assert total(att.facts(3), "spark.jobs") == 1


def test_recorder_nests_and_patches():
    rec = SpanRecorder()

    class Target:
        def work(self, x):
            return x + 1

    rec.patch(Target, "work", "target.work", lambda _self, x: {"x": x})
    with rec.span("outer"):
        assert Target().work(1) == 2
    rec.unpatch()
    assert Target().work(1) == 2 and not hasattr(Target.work, "__wrapped__")
    by_name = {s["name"]: s for s in rec.spans}
    assert by_name["target.work"]["parent"] == by_name["outer"]["id"]
    assert by_name["target.work"]["attrs"] == {"x": 1}
