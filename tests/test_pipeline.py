"""Pipeline orchestration tests: paged ingest through bronze append,
short-page termination, week-granularity fallback, two-phase ETL —
all driven by an injected fake transport (no network)."""

from __future__ import annotations

import copy
import glob
import json
import os
import urllib.parse

import pytest

from usgs_earthquake_data_pipeline_spark import pipeline, sinks
from usgs_earthquake_data_pipeline_spark.sources.rest import (
    FetchError,
    fetch_earthquake_data,
    fetch_earthquake_data_by_limit,
    fetch_earthquake_data_limit_offset,
)


def _feature(i: int, ts_ms: int = 1704067200000, tsunami: int = 0):
    return {
        "type": "Feature",
        "id": f"ev{i:08d}",
        "properties": {"mag": 1.0, "time": ts_ms, "tsunami": tsunami},
        "geometry": {"type": "Point", "coordinates": [1.0, 2.0, 3.0]},
    }


def _page(features):
    return json.dumps(
        {
            "type": "FeatureCollection",
            "metadata": {"generated": 0, "count": len(features)},
            "features": features,
        }
    )


class FakeApi:
    """Serves deterministic pages keyed by (starttime, offset).
    ``fail_windows`` always fail; each ``(starttime, offset)`` in
    ``fail_pages`` fails once (a transient 5xx)."""

    def __init__(
        self, pages_by_window, fail_windows=None, fail_status=503, fail_pages=None
    ):
        self.pages_by_window = pages_by_window
        self.fail_windows = set(fail_windows or [])
        self.fail_pages = set(fail_pages or [])
        self.fail_status = fail_status
        self.calls = []

    def __call__(self, url):
        q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        start = q["starttime"][0]
        offset = int(q.get("offset", ["1"])[0])
        limit = int(q.get("limit", ["10"])[0])
        self.calls.append((start, offset))
        if start in self.fail_windows:
            return self.fail_status, ""
        if (start, offset) in self.fail_pages:
            self.fail_pages.discard((start, offset))
            return self.fail_status, ""
        feats = self.pages_by_window.get(start, [])
        page = feats[offset - 1 : offset - 1 + limit]
        return 200, _page(page)


def test_rest_source_returns_empty_dict_on_error():
    api = FakeApi({}, fail_windows={"2020-01-01"})
    assert fetch_earthquake_data("http://x", "2020-01-01", "2020-02-01", api) == {}


def test_rest_source_limit_offset_raises_classified():
    api = FakeApi({}, fail_windows={"2020-01-01"})
    with pytest.raises(FetchError) as exc:
        fetch_earthquake_data_limit_offset(
            "http://x", "2020-01-01", "2020-02-01", 10, 1, api
        )
    assert exc.value.status == 503
    assert pipeline.is_retryable(exc.value)


def test_rest_source_by_limit_is_newest_n_without_time_range():
    urls = []

    def ok(url):
        urls.append(url)
        return 200, _page([_feature(1), _feature(2)])

    doc = fetch_earthquake_data_by_limit("http://x", 2, ok)
    assert [f["id"] for f in doc["features"]] == ["ev00000001", "ev00000002"]
    (url,) = urls
    q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
    assert q == {"format": ["geojson"], "limit": ["2"]}  # no time range

    assert fetch_earthquake_data_by_limit("http://x", 2, lambda u: (503, "")) == {}


def test_month_and_week_windows():
    mw = pipeline.month_windows(2020, 2020)
    assert len(mw) == 12
    assert mw[0] == ("2020-01-01", "2020-02-01")
    assert mw[-1] == ("2020-12-01", "2021-01-01")  # Dec 31 events covered
    ww = pipeline.week_windows("2020-01-01", "2020-02-01")
    assert ww[0] == ("2020-01-01", "2020-01-08")
    assert ww[-1][1] == "2020-02-01"


def test_paged_ingest_three_pages(spark, tmp_path):
    # 25 events, limit 10 → pages of 10/10/5 (short page terminates)
    feats = [_feature(i, tsunami=i % 5 == 0) for i in range(25)]
    api = FakeApi({"2020-01-01": feats})
    bronze = str(tmp_path / "bronze")
    total = pipeline.ingest_window_paged(
        spark, "http://x", "2020-01-01", "2020-02-01", bronze,
        limit=10, http_get=api,
    )
    assert total == 25
    offsets = [o for (_, o) in api.calls]
    assert offsets == [1, 11, 21]  # no 4th call: short page broke the loop
    assert sinks.read_partitioned_table(spark, bronze).count() == 25


def test_empty_window_no_write(spark, tmp_path):
    api = FakeApi({"2020-01-01": []})
    bronze = str(tmp_path / "bronze")
    total = pipeline.ingest_window_paged(
        spark, "http://x", "2020-01-01", "2020-02-01", bronze,
        limit=10, http_get=api,
    )
    assert total == 0
    assert not os.path.exists(bronze)  # F3: empty input never writes


def test_week_fallback_on_month_failure(spark, tmp_path):
    """A failing month is retried in week windows; weeks that fail are
    recorded, weeks that succeed still land data."""
    feats = [_feature(100 + i) for i in range(3)]
    api = FakeApi(
        {"2020-01-08": feats},  # only this week window has data
        fail_windows={"2020-01-01"},  # the month start AND its first week fail
    )
    bronze = str(tmp_path / "bronze")
    stats = pipeline.IngestStats()
    # drive one month through the range loop
    import usgs_earthquake_data_pipeline_spark.pipeline as P

    orig = P.month_windows
    P.month_windows = lambda s, e: [("2020-01-01", "2020-02-01")]
    try:
        stats = pipeline.ingest_range(
            spark, 2020, 2020, bronze, api_url="http://x", limit=10, http_get=api
        )
    finally:
        P.month_windows = orig
    assert ("2020-01-01", "2020-01-08") in stats.failed_windows
    assert stats.events == 3
    assert sinks.read_partitioned_table(spark, bronze).count() == 3


def test_failed_window_leaves_bronze_and_stats_untouched(spark, tmp_path):
    """A window whose page 2 fails after page 1 landed in staging is
    atomic: FetchError propagates, bronze is never created, the stats
    passed in are unchanged and the staging dir is gone. The month's
    week retry then lands every event exactly once."""
    feats = [_feature(i) for i in range(15)]
    api = FakeApi({"2020-01-01": feats}, fail_pages={("2020-01-01", 11)})
    bronze = str(tmp_path / "bronze")
    stats = pipeline.IngestStats(pages=2, events=7, window_metrics=[{"rows": 7}])
    before = copy.deepcopy(stats)
    with pytest.raises(FetchError):
        pipeline.ingest_window_paged(
            spark, "http://x", "2020-01-01", "2020-02-01", bronze,
            limit=10, http_get=api, stats=stats,
        )
    assert api.calls == [("2020-01-01", 1), ("2020-01-01", 11)]
    assert not os.path.exists(bronze)
    assert stats == before
    assert not glob.glob(str(tmp_path / "*__staging_*"))

    # the same transient failure through the range loop: the month
    # fails on page 2, its first week re-fetches both pages
    api = FakeApi({"2020-01-01": feats}, fail_pages={("2020-01-01", 11)})
    orig = pipeline.month_windows
    pipeline.month_windows = lambda s, e: [("2020-01-01", "2020-02-01")]
    try:
        stats = pipeline.ingest_range(
            spark, 2020, 2020, bronze, api_url="http://x", limit=10, http_get=api
        )
    finally:
        pipeline.month_windows = orig
    assert stats.failed_windows == []
    assert stats.events == 15 and stats.pages == 2
    ids = [r.id for r in sinks.read_partitioned_table(spark, bronze).collect()]
    assert sorted(ids) == sorted(f["id"] for f in feats)  # each exactly once
    assert not glob.glob(str(tmp_path / "*__staging_*"))


def test_idempotent_reingest_no_duplicates(spark, tmp_path):
    """Re-running the same window in idempotent mode replaces its
    partitions instead of duplicating rows; plain append duplicates."""
    feats = [_feature(i) for i in range(25)]
    bronze = str(tmp_path / "bronze")
    for _ in range(2):  # same window ingested twice
        api = FakeApi({"2020-01-01": feats})
        pipeline.ingest_window_paged(
            spark, "http://x", "2020-01-01", "2020-02-01", bronze,
            limit=10, http_get=api, idempotent=True,
        )
    assert sinks.read_partitioned_table(spark, bronze).count() == 25

    bronze2 = str(tmp_path / "bronze2")
    for _ in range(2):
        api = FakeApi({"2020-01-01": feats})
        pipeline.ingest_window_paged(
            spark, "http://x", "2020-01-01", "2020-02-01", bronze2,
            limit=10, http_get=api,
        )
    assert sinks.read_partitioned_table(spark, bronze2).count() == 50


def test_two_phase_etl(spark, tmp_path):
    feats = [_feature(i, tsunami=int(i % 3 == 0)) for i in range(12)]
    api = FakeApi({m: feats if m == "2021-03-01" else [] for m, _ in
                   pipeline.month_windows(2021, 2021)})
    bronze = str(tmp_path / "bronze")
    yearly = str(tmp_path / "yearly")
    monthly = str(tmp_path / "monthly")
    stats = pipeline.run_etl(
        spark, 2021, 2021, bronze, yearly, monthly,
        api_url="http://x", limit=100, http_get=api,
    )
    assert stats.events == 12
    y = sinks.read_partitioned_table(spark, yearly).collect()
    assert len(y) == 1 and y[0].tsunami_yearly_count == 4  # i % 3 == 0 of 12
