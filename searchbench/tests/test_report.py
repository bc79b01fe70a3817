import json

import pytest

from report import check_name, percentile, result_line, summary_lines


def test_median_always_given():
    assert percentile([3.0], 50) == 3.0
    assert percentile([1.0, 2.0, 9.0, 4.0], 50) == 3.0


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile([float(i) for i in range(1, 100)], 90) is None
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 90) == 90.0      # 91..100 lie beyond it
    assert percentile(xs, 99) is None


def test_summary_prints_sample_count_and_withheld_percentiles():
    (line,) = summary_lines({"search_ms": [1.0, 2.0, 3.0]})
    assert line.startswith("search_ms: p50=2.0000")
    assert "p90=n/a" in line and line.endswith("n=3")


@pytest.mark.parametrize("name", ["setup_s", "plans.pipeline.search.ms",
                                  "spark.tasks_failed", "p50-ms"])
def test_metric_names_accepted(name):
    assert check_name(name) == name


@pytest.mark.parametrize("name", ["", "a b", "ms/s", "lat(ms)", "é"])
def test_metric_names_rejected(name):
    with pytest.raises(ValueError):
        check_name(name)


def test_result_line_shape():
    r = json.loads(result_line(True, 3, 0, {"setup_s": (1.5, "s")}))
    assert r == {"correct": True, "attempted": 3, "failed": 0,
                 "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"bad name": (1.0, "s")})
