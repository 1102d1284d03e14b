"""The synthetic feed and its transport, driven through the program's
own REST source and month/week orchestration (no Spark)."""

from __future__ import annotations

import json

import pytest

from feed import Feed, Transport, month_end, month_start
from usgs_earthquake_data_pipeline_spark import pipeline
from usgs_earthquake_data_pipeline_spark.sources.rest import (
    FetchError,
    fetch_earthquake_data_limit_offset,
)

URL = "http://feed.invalid/query"


def _page(transport, start, end, limit, offset):
    doc = fetch_earthquake_data_limit_offset(URL, start, end, limit, offset, transport)
    return doc["features"]


def test_same_seed_same_feed():
    a, b = Feed(5), Feed(5)
    a.add_month(2021, 3, 200)
    b.add_month(2021, 3, 200)
    assert json.dumps(a.features) == json.dumps(b.features)
    c = Feed(6)
    c.add_month(2021, 3, 200)
    assert json.dumps(a.features) != json.dumps(c.features)


def test_pagination_ends_on_short_page():
    feed = Feed(1)
    feed.add_month(2021, 5, 900)
    tr = Transport(feed)
    window = (month_start(2021, 5), month_end(2021, 5))
    sizes, seen, offset = [], [], 1
    while True:
        page = _page(tr, *window, 400, offset)
        sizes.append(len(page))
        seen += page
        if len(page) < 400:
            break
        offset += 400
    assert sizes == [400, 400, 100]
    assert tr.calls == 3 and tr.pages_with_features == 3
    assert [f["id"] for f in seen] == [f["id"] for f in feed.window(*window)]
    times = [f["properties"]["time"] for f in seen]
    assert times == sorted(times, reverse=True)  # FDSN order: newest first
    assert _page(tr, *window, 400, 901) == []


def test_feature_mix_runs_the_null_paths():
    feed = Feed(3)
    feed.add_month(2020, 1, 5000)
    feats = feed.all_features()
    share = lambda pred: sum(map(pred, feats)) / len(feats)  # noqa: E731
    assert 0.01 < share(lambda f: f["properties"]["tsunami"] == 1) < 0.03
    assert 0.01 < share(lambda f: "mag" not in f["properties"]) < 0.06
    assert 0.01 < share(lambda f: len(f["geometry"]["coordinates"]) == 2) < 0.06
    assert 0 < share(lambda f: f["id"] is None) < 0.02
    ids = [f["id"] for f in feats if f["id"] is not None]
    assert len(ids) == len(set(ids))


def test_swarm_days_stay_in_their_week():
    feed = Feed(2)
    feed.add_month(2021, 9, 300, days=(9, 14))
    weeks = pipeline.week_windows(month_start(2021, 9), month_end(2021, 9))
    counts = [len(feed.window(*w)) for w in weeks]
    assert counts == [0, 300, 0, 0, 0]


def test_503_month_falls_back_to_weeks(monkeypatch):
    """The program's month loop meets the 503 on the chosen month,
    retries it week by week, and every week succeeds."""
    feed = Feed(4)
    feed.add_month(2021, 2, 250)
    feed.add_month(2021, 9, 120)
    swarm = (month_start(2021, 9), month_end(2021, 9))
    tr = Transport(feed, {swarm})
    landed, requests = [], []

    def fake_ingest(spark, api_url, start, end, bronze, *, limit, http_get, stats, **_):
        requests.append((start, end))
        offset, total = 1, 0
        while True:
            page = _page(http_get, start, end, limit, offset)
            landed.extend(f["id"] for f in page)
            total += len(page)
            if len(page) < limit:
                return total
            offset += limit

    monkeypatch.setattr(pipeline, "ingest_window_paged", fake_ingest)
    stats = pipeline.ingest_range(None, 2021, 2021, "unused", api_url=URL, limit=100, http_get=tr)
    assert stats.failed_windows == []
    assert tr.status_5xx == 1
    weeks = pipeline.week_windows(*swarm)
    i = requests.index(swarm)
    assert requests[i + 1 : i + 1 + len(weeks)] == weeks
    assert sorted(landed, key=str) == sorted((f["id"] for f in feed.all_features()), key=str)


def test_503_is_a_classified_fetch_error():
    feed = Feed(4)
    feed.add_month(2021, 9, 10)
    window = (month_start(2021, 9), month_end(2021, 9))
    with pytest.raises(FetchError) as exc:
        _page(Transport(feed, {window}), *window, 10, 1)
    assert exc.value.status == 503 and pipeline.is_retryable(exc.value)
