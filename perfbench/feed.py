"""Seeded synthetic FDSN event feed and its in-process ``http_get``.

The feed holds GeoJSON features per month, generated from a seed.
``Transport`` answers the FDSN query URLs the pipeline builds
(``starttime``/``endtime``/``limit``/``offset``) from that feed, with
no socket: it is the ``http_get`` callable ``sources.rest`` accepts.
Pagination is an offset slice over the window's features, so a window
ends on a short page; chosen month windows answer 503, which sends
the pipeline to its week-window fallback.

The feature mix exercises the parser's null paths: some features have
no ``mag``, some carry two-element coordinates (no depth), and a few
have a null ``id``, which the parser's ``drop_invalid`` filter removes.
"""

from __future__ import annotations

import json
import random
import urllib.parse
from dataclasses import dataclass, field
from datetime import date, datetime, timezone

DAY_MS = 86_400_000

TSUNAMI_RATE = 0.02
NO_MAG_RATE = 0.03
TWO_COORD_RATE = 0.03
NULL_ID_RATE = 0.005

NETWORKS = ("us", "ci", "nc", "ak", "hv", "nn", "uw", "pr")
MAG_TYPES = ("ml", "md", "mb", "mww", "mwr")
REGIONS = ("Alaska", "California", "Nevada", "Hawaii", "Japan", "Chile",
           "Indonesia", "Tonga", "Puerto Rico", "Washington")


def _ms(day: str) -> int:
    d = date.fromisoformat(day)
    return int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp() * 1000)


def month_start(year: int, month: int) -> str:
    return date(year, month, 1).isoformat()


def month_end(year: int, month: int) -> str:
    return (date(year + 1, 1, 1) if month == 12 else date(year, month + 1, 1)).isoformat()


def make_feature(rng: random.Random, event_id: str | None, t_ms: int) -> dict:
    """One FDSN GeoJSON feature. ``event_id=None`` makes an invalid one."""
    net = rng.choice(NETWORKS)
    code = event_id[-8:] if event_id else f"{rng.randrange(10**8):08d}"
    props = {
        "place": f"{rng.randrange(1, 200)} km of {rng.choice(REGIONS)}",
        "time": t_ms,
        "updated": t_ms + rng.randrange(60_000, 30 * DAY_MS),
        "url": f"https://earthquake.example/event/{event_id}",
        "detail": f"https://earthquake.example/detail/{event_id}.geojson",
        "felt": rng.randrange(0, 50) if rng.random() < 0.2 else None,
        "cdi": round(rng.uniform(1, 6), 1) if rng.random() < 0.2 else None,
        "mmi": round(rng.uniform(1, 6), 3) if rng.random() < 0.1 else None,
        "alert": "green" if rng.random() < 0.05 else None,
        "status": rng.choice(("automatic", "reviewed")),
        "tsunami": 1 if rng.random() < TSUNAMI_RATE else 0,
        "sig": rng.randrange(0, 1000),
        "net": net,
        "code": code,
        "ids": f",{net}{code},",
        "sources": f",{net},",
        "types": ",origin,phase-data,",
        "nst": rng.randrange(3, 150),
        "dmin": round(rng.uniform(0, 5), 4),
        "rms": round(rng.uniform(0, 1.5), 2),
        "gap": round(rng.uniform(10, 300), 1),
        "magType": rng.choice(MAG_TYPES),
        "type": "earthquake",
        "title": f"M ? - {rng.choice(REGIONS)}",
    }
    if rng.random() >= NO_MAG_RATE:
        props["mag"] = round(rng.uniform(-0.5, 7.5), 2)
    coords = [round(rng.uniform(-180, 180), 4), round(rng.uniform(-80, 80), 4)]
    if rng.random() >= TWO_COORD_RATE:
        coords.append(round(rng.uniform(0, 600), 2))
    return {
        "type": "Feature",
        "id": event_id,
        "properties": props,
        "geometry": {"type": "Point", "coordinates": coords},
    }


@dataclass
class Feed:
    """Features per month (keyed by the month's first day), generated
    from ``seed``. Event times never fall on a day boundary, so month
    and week windows partition the feed without overlap."""

    seed: int
    features: dict[str, list[dict]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        self._serial = 0

    def add_month(
        self, year: int, month: int, n: int, days: tuple[int, int] | None = None
    ) -> None:
        """Append ``n`` new features to the month, or to its days
        ``days[0]..days[1]`` (a swarm)."""
        lo, hi = _ms(month_start(year, month)), _ms(month_end(year, month))
        if days is not None:
            lo, hi = lo + (days[0] - 1) * DAY_MS, lo + days[1] * DAY_MS
        new = []
        for _ in range(n):
            t = lo + self._rng.randrange(1, hi - lo)
            if t % DAY_MS == 0:
                t += 1
            self._serial += 1
            eid = None if self._rng.random() < NULL_ID_RATE else (
                f"pb{self.seed:x}x{self._serial:07d}"
            )
            new.append(make_feature(self._rng, eid, t))
        month = self.features.setdefault(month_start(year, month), [])
        month.extend(new)
        # the FDSN default order: newest first
        month.sort(key=lambda f: -f["properties"]["time"])

    def window(self, start: str, end: str) -> list[dict]:
        lo, hi = _ms(start), _ms(end)
        out = []
        for feats in self.features.values():
            out.extend(f for f in feats if lo <= f["properties"]["time"] < hi)
        out.sort(key=lambda f: -f["properties"]["time"])
        return out

    def all_features(self) -> list[dict]:
        return [f for feats in self.features.values() for f in feats]


def page_body(features: list[dict]) -> str:
    return json.dumps(
        {
            "type": "FeatureCollection",
            "metadata": {"generated": 0, "count": len(features)},
            "features": features,
        }
    )


class Transport:
    """``http_get(url) -> (status, body)`` over a :class:`Feed`.

    A request whose (starttime, endtime) is in ``fail_windows`` gets a
    503. Pages are rendered once and cached, so repeated operations pay
    the program's cost, not the generator's; the feed must not change
    after the first request."""

    def __init__(self, feed: Feed, fail_windows: set[tuple[str, str]] = frozenset()):
        self.feed = feed
        self.fail_windows = set(fail_windows)
        self.calls = 0
        self.status_5xx = 0
        self.pages_with_features = 0
        self._windows: dict[tuple[str, str], list[dict]] = {}
        self._pages: dict[tuple[str, str, int, int], tuple[str, int]] = {}

    def __call__(self, url: str) -> tuple[int, str]:
        q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        start, end = q["starttime"][0], q["endtime"][0]
        limit, offset = int(q["limit"][0]), int(q["offset"][0])
        self.calls += 1
        if (start, end) in self.fail_windows:
            self.status_5xx += 1
            return 503, ""
        key = (start, end, limit, offset)
        if key not in self._pages:
            feats = self._windows.get((start, end))
            if feats is None:
                feats = self._windows[(start, end)] = self.feed.window(start, end)
            page = feats[offset - 1 : offset - 1 + limit]
            self._pages[key] = (page_body(page), len(page))
        body, n = self._pages[key]
        self.pages_with_features += n > 0
        return 200, body
