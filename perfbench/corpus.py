"""Seeded file corpus, change generator and the Python model of the views.

Every file is JSON ``{"tags": [...], "n": int, "body": str}`` with 1-3
tags drawn Zipf(s) over ``keys`` tag names. The single map UDF
(``perfbench.maps.map_tags``) emits ``(tag, n)`` per tag, feeding three
views: ``by_tag`` (mapped), ``tag_count`` (count) and ``tag_sum`` (sum).
``ViewModel`` replays every put and delete in Python, so each read the
benchmark makes has an exact expected answer.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass

PATH_GLOB = "/posts/*.json"
ZIPF_S = 1.1
BODY_WORDS = 12
# a drip step: this many changes, spread over this many origins
DRIP_CHANGES = 8
DRIP_ORIGINS = 2
WORDS = (
    "dat archive view index emit reduce fold key value origin "
    "version change stream batch merge shard bucket snapshot"
).split()


@dataclass(frozen=True)
class Size:
    files: int
    origins: int
    keys: int
    # rows of the analytics tables, as a share of perfbench.tables.ROWS
    table_scale: float = 1.0
    # drip steps measured per run, however short --seconds is
    min_steps: int = 3


SIZES = {
    "standard": Size(files=256, origins=64, keys=8192),
    "tiny": Size(files=48, origins=4, keys=64, table_scale=0.1, min_steps=2),
}


class Zipf:
    """Rank sampler with P(rank r) proportional to 1 / r**s."""

    def __init__(self, n: int, s: float):
        acc = 0.0
        self._cdf = []
        for r in range(1, n + 1):
            acc += 1.0 / r**s
            self._cdf.append(acc)

    def draw(self, rnd: random.Random) -> int:
        return bisect.bisect_left(self._cdf, rnd.random() * self._cdf[-1])


def tag_name(rank: int) -> str:
    return f"tag{rank:05d}"


class Corpus:
    """Generates base files and drip changes from one seed."""

    def __init__(self, seed: int, size: Size):
        self.size = size
        self.rnd = random.Random(seed)
        self.zipf = Zipf(size.keys, ZIPF_S)
        self.origins = [f"dat://site{o:03d}" for o in range(size.origins)]
        self.versions = {o: 0 for o in self.origins}
        # live pathnames per origin, in insertion order
        self.live: dict[str, list[str]] = {o: [] for o in self.origins}
        # number of the next new file's pathname, across origins
        self.next_file = size.files

    def draw_tag(self, rnd: random.Random | None = None) -> str:
        return tag_name(self.zipf.draw(rnd or self.rnd))

    def _record(self) -> tuple[list[str], int, str]:
        tags = [self.draw_tag() for _ in range(self.rnd.randint(1, 3))]
        n = self.rnd.randrange(1000)
        body = " ".join(self.rnd.choice(WORDS) for _ in range(BODY_WORDS))
        return tags, n, json.dumps({"tags": tags, "n": n, "body": body})

    def base_rows(self) -> list[dict]:
        """Every origin's initial files, all at version 1."""
        rows = []
        for o in self.origins:
            self.versions[o] = 1
        for i in range(self.size.files):
            origin = self.origins[i % len(self.origins)]
            pathname = f"/posts/{i:05d}.json"
            tags, n, content = self._record()
            self.live[origin].append(pathname)
            rows.append(
                {
                    "origin": origin,
                    "pathname": pathname,
                    "version": 1,
                    "type": "put",
                    "content": content,
                    "_tags": tags,
                    "_n": n,
                }
            )
        return rows

    def drip_rows(self) -> list[dict]:
        """One drip step: DRIP_CHANGES changes spread over DRIP_ORIGINS
        origins, each origin at a fresh version. The first live file of
        the step is deleted and the others are re-tagged; an origin with
        too few live files gets new files instead, so every step has the
        same shape however many steps ran before it."""
        candidates = [o for o in self.origins if self.live[o]]
        origins = self.rnd.sample(candidates, DRIP_ORIGINS)
        per_origin = DRIP_CHANGES // DRIP_ORIGINS
        rows = []
        for j, origin in enumerate(origins):
            self.versions[origin] += 1
            version = self.versions[origin]
            live = self.live[origin]
            picks = self.rnd.sample(live, min(per_origin, len(live)))
            for m in range(per_origin):
                if m < len(picks):
                    pathname = picks[m]
                else:
                    pathname = f"/posts/{self.next_file:05d}.json"
                    self.next_file += 1
                    live.append(pathname)
                row = {"origin": origin, "pathname": pathname, "version": version}
                if j == 0 and m == 0:
                    live.remove(pathname)
                    row.update(type="del", content=None)
                else:
                    tags, n, content = self._record()
                    row.update(type="put", content=content, _tags=tags, _n=n)
                rows.append(row)
        return rows


def engine_rows(rows: list[dict]) -> list[dict]:
    """Strip the model-only fields before handing rows to the engine."""
    return [{k: v for k, v in r.items() if not k.startswith("_")} for r in rows]


class ViewModel:
    """Expected state of by_tag, tag_count and tag_sum."""

    def __init__(self):
        # tag -> {file_url: [n per emit, in emit_seq order]}
        self._entries: dict[str, dict[str, list[int]]] = {}
        self._files: dict[str, list[str]] = {}
        self._sorted: list[str] | None = None

    def apply(self, rows: list[dict]) -> set[str]:
        """Apply changelog rows; returns the tags whose values changed."""
        touched: set[str] = set()
        for r in rows:
            url = r["origin"] + r["pathname"]
            for tag in set(self._files.pop(url, [])):
                touched.add(tag)
                per_file = self._entries[tag]
                del per_file[url]
                if not per_file:
                    del self._entries[tag]
            if r["type"] == "put":
                self._files[url] = r["_tags"]
                for tag in r["_tags"]:
                    touched.add(tag)
                    self._entries.setdefault(tag, {}).setdefault(url, []).append(r["_n"])
        self._sorted = None
        return touched

    def tags_of(self, url: str) -> list[str]:
        return self._files.get(url, [])

    def keys(self) -> list[str]:
        if self._sorted is None:
            self._sorted = sorted(self._entries)
        return self._sorted

    def mapped(self, tag: str) -> list[int] | None:
        per_file = self._entries.get(tag)
        if not per_file:
            return None
        return [n for url in sorted(per_file) for n in per_file[url]]

    def count(self, tag: str) -> int | None:
        per_file = self._entries.get(tag)
        return sum(len(v) for v in per_file.values()) if per_file else None

    def total(self, tag: str) -> int | None:
        per_file = self._entries.get(tag)
        return sum(sum(v) for v in per_file.values()) if per_file else None

    def value(self, view: str, tag: str):
        return {"by_tag": self.mapped, "tag_count": self.count, "tag_sum": self.total}[
            view
        ](tag)

    def get(self, view: str, tag: str) -> dict | None:
        v = self.value(view, tag)
        return None if v is None else {"key": tag, "value": v}

    def get_many(self, view: str, tags: list[str]) -> dict:
        out = {}
        for tag in tags:
            v = self.value(view, tag)
            if v is not None:
                out[tag] = v
        return out

    def list(self, view: str, gte: str | None = None, limit: int | None = None) -> list[dict]:
        keys = self.keys()
        start = 0 if gte is None else bisect.bisect_left(keys, gte)
        out: list[dict] = []
        for tag in keys[start:]:
            if view == "by_tag":
                out.extend({"key": tag, "value": n} for n in self.mapped(tag))
            else:
                out.append({"key": tag, "value": self.value(view, tag)})
            if limit is not None and len(out) >= limit:
                return out[:limit]
        return out


def same(a, b) -> bool:
    """Structural equality where numbers compare by value (a sum read
    back as 12.0 equals the model's 12)."""
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b
