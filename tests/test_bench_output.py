"""The bench harness's stdout contract: the recorded channel keeps only
a 2000-char tail of bench output, so the final JSON line must fit in it
whole — rounds 4-8 printed a ~2.3k-char line and were recorded as
`parsed: null` (mid-line truncation).  _compact_line is the guard."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from ab_gated import _last_sec  # noqa: E402
from bench import _compact_line  # noqa: E402


def _fake_out(n_queries: int, with_isolated: bool = True) -> dict:
    # worst-case shaped names/values: long names, 2-digit seconds
    qs = {
        f"streaming_windowed_query_{i:03d}": round(0.1 + (i % 80) / 7.0, 3)
        for i in range(n_queries)
    }
    out = {
        "metric": "pedsnetdcc_spark_total_query_time",
        "value": round(sum(qs.values()), 3),
        "unit": "sec",
        "queries": qs,
        "sf": 0.1,
    }
    if with_isolated:
        # round-11 shape: two fresh-JVM arms per isolated query
        out["isolated"] = {
            k: {"best": v, "spread": 0.12, "runs": [v, round(v + 0.12, 3)]}
            for k, v in list(qs.items())[:10]
        }
    return out


def test_compact_line_fits_tail_budget():
    for n in (38, 92, 150):
        line = json.dumps(
            _compact_line(_fake_out(n)), separators=(",", ":")
        )
        assert len(line) <= 1850, (n, len(line))


def test_compact_line_total_is_verifiable():
    out = _fake_out(120)
    c = _compact_line(out)
    recon = sum(c["queries"].values()) + c.get("omitted_sum", 0.0)
    # per-entry 2-decimal rounding: tolerance is 0.005 * n_queries
    assert abs(recon - out["value"]) <= 0.005 * len(out["queries"]) + 0.01
    assert c.get("omitted_n", 0) + len(c["queries"]) == len(out["queries"])


def test_compact_line_keeps_slowest_rows():
    out = _fake_out(120)
    c = _compact_line(out)
    kept_min = min(c["queries"].values())
    dropped = set(out["queries"]) - set(c["queries"])
    assert all(round(out["queries"][n], 2) <= kept_min + 0.005 for n in dropped)


def test_small_registry_passes_through_unchanged():
    out = _fake_out(20, with_isolated=False)
    c = _compact_line(out)
    assert "omitted_n" not in c
    assert set(c["queries"]) == set(out["queries"])


def test_failed_queries_stay_visible_on_overbudget_line():
    """A failed query's -1.0 sentinel is always the minimum timing, so
    a naive smallest-first fold would silently drop it from the
    recorded line exactly when the registry is over budget."""
    out = _fake_out(120)
    out["queries"]["broken_query_a"] = -1.0
    out["queries"]["broken_query_b"] = -1.0
    c = _compact_line(out)
    line = json.dumps(c, separators=(",", ":"))
    assert len(line) <= 1850
    assert c["failed_n"] == 2
    assert c["failed"] == ["broken_query_a", "broken_query_b"]
    # sentinels excluded from the total and from the omitted fold
    assert all(v >= 0 for v in c["queries"].values())
    recon = sum(c["queries"].values()) + c.get("omitted_sum", 0.0)
    assert abs(recon - c["value"]) <= 0.005 * 122 + 0.01


def test_stderr_summary_counts_headers_not_frames(tmp_path):
    """One benign trace (header + ~80 "\tat" frames + a Caused-by chain
    link) must count as ONE exception under the marker it fell under —
    the round-11 artifact fix: the recorded tail gets {marker: n}, the
    raw text stays in the log.  Frame lines containing the word
    Exception in class/method names (tryOrIOException, ...) must not
    count either (round-12 review finding)."""
    from bench import _summarize_stderr_log

    log = tmp_path / "stderr.log"
    frames = "\n".join("\tat org.apache.spark.Foo.bar(Foo.scala:%d)" % i
                       for i in range(80))
    log.write_text(
        "=== bench marker: session start ===\n"
        "WARNING: Using incubator modules\n"
        "=== bench marker: streaming_wds_export ===\n"
        "java.io.FileNotFoundException: File /tmp/x/out/batch=* does not exist\n"
        f"{frames}\n"
        "\tat org.apache.spark.util.Utils$.tryOrIOException(Utils.scala:1432)\n"
        "\tat org.apache.spark.SparkException$.internalError(SparkException.scala:107)\n"
        "Caused by: java.io.IOException: glob miss\n"
        "\tat org.apache.spark.Baz.qux(Baz.scala:1)\n"
        "=== bench marker: session shutdown ===\n"
        "ordinary shutdown line\n"
    )
    counts = _summarize_stderr_log(str(log))
    assert counts == {"streaming_wds_export": 1}  # one trace = one exception


def test_stderr_summary_clean_log_is_empty(tmp_path):
    from bench import _summarize_stderr_log

    log = tmp_path / "stderr.log"
    log.write_text("=== bench marker: q1 ===\nall good\n")
    assert _summarize_stderr_log(str(log)) == {}


def test_stderr_summary_ignores_info_warn_prose(tmp_path):
    """A log4j INFO/WARN line MENTIONING an exception class name is
    prose, not an exception header (round-12 review: _EXC_RE counted
    any line containing "Exception") — but an ERROR-level log line
    reporting a real failure still counts."""
    from bench import _summarize_stderr_log

    log = tmp_path / "stderr.log"
    log.write_text(
        "=== bench marker: q1 ===\n"
        "26/08/16 10:00:00 INFO BlockManager: retrying after "
        "SparkException last attempt\n"
        "26/08/16 10:00:01 WARN TaskSetManager: ignoring "
        "FileNotFoundException during speculative cleanup\n"
        "=== bench marker: q2 ===\n"
        "26/08/16 10:00:02 ERROR TaskSetManager: Task 3 failed: "
        "org.apache.spark.SparkException: boom\n"
        "\tat org.apache.spark.Foo.bar(Foo.scala:1)\n"
    )
    assert _summarize_stderr_log(str(log)) == {"q2": 1}


def test_compact_line_carries_stderr_attribution():
    out = _fake_out(120)
    out["stderr_exceptions"] = {"streaming_wds_export": 2, "session shutdown": 1}
    out["stderr_log"] = "BENCH_STDERR.log"
    c = _compact_line(out)
    assert c["stderr_exceptions"] == out["stderr_exceptions"]
    assert c["stderr_log"] == "BENCH_STDERR.log"
    assert len(json.dumps(c, separators=(",", ":"))) <= 1850


def test_compact_line_carries_steal_pct():
    """The round-13 hypervisor-steal fields ride the compact line when
    present (the in-band "was this box throttled" note) and are omitted
    when the platform gave no samples — and the line still fits."""
    out = _fake_out(93)
    out["steal_pct"] = {"timed": 3.41, "isolated": 12.9}
    c = _compact_line(out)
    assert c["steal_pct"] == {"timed": 3.41, "isolated": 12.9}
    assert len(json.dumps(c, separators=(",", ":"))) <= 1850

    out2 = _fake_out(93)
    out2["steal_pct"] = {"timed": None, "isolated": None}
    assert "steal_pct" not in _compact_line(out2)


def test_ab_gated_skips_non_object_json_lines():
    assert _last_sec('{"sec": 1.5}\n42\n[1, 2]\nnot json\n') == 1.5
    assert _last_sec('7\n"text"\n') is None
    assert _last_sec("") is None
