"""Seeded generator of the daily pipeline's input; the engine only ever
sees what it produces.

``Postings`` yields HH-shaped vacancy items day by day. Employers are
Zipf-drawn over base companies whose normalized names are pairwise
Levenshtein >= 5 apart; each posting names its employer in one of the
surface forms of ``tests/fixtures/hh_pages_v3.json`` (legal suffix, case
and whitespace dirt, one-edit typos), so every form sits within one edit
of its base and two bases can never be bridged at distance 2
(1 + 2 + 1 < 5). The true employer of every form is therefore known.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
from datetime import datetime, timedelta, timezone

from tools.entity_scale_bench import make_wordlist

FIXTURE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "tests", "fixtures", "hh_pages_v3.json")
CURRENCY_BASE = {"RUR": 120000, "USD": 2500, "EUR": 2300, "KZT": 550000}


def normalize(name: str) -> str:
    """Python mirror of ``operators.entity.normalize_entity_name``."""
    n = re.sub(r"\s+", " ", name.strip().lower())
    return re.sub(r" (llc|ltd|inc|group)$", "", n)


def variant(base: str, kind: int) -> str:
    """The v3 fixture's surface forms of a base name."""
    if kind == 0:
        return base
    if kind in (1, 2, 3):
        return base + (" LLC", " Ltd", " Group")[kind - 1]
    if kind == 4:
        return base.upper().replace(" ", "  ")
    if kind == 5:
        return base.lower() + " inc"
    if kind == 6:  # deletion typo
        return base[:4] + base[5:]
    return base[:2] + "x" + base[3:]  # substitution typo


def base_names(seed: int, n: int) -> list[str]:
    """``n`` two-word company names whose normalized forms are pairwise
    Levenshtein >= 5 apart: every name pairs a first word with a second,
    both from ``make_wordlist``'s separated lists, so two names differ by
    >= 5 in at least one word (the ``entity_scale_bench`` grid argument;
    the exact-recovery check would show a pair that came closer)."""
    k = math.isqrt(n - 1) + 1
    first = make_wordlist(seed, k)
    second = make_wordlist(seed + 1, k)
    return [f"{first[i % k].capitalize()} {second[i // k].capitalize()}" for i in range(n)]


class Postings:
    """Day-by-day HH vacancy items; ``day(d)`` is a pure function of the
    seed and ``d``. Vocabulary (titles, areas, schedules, ...) comes from
    the v3 fixture."""

    def __init__(self, seed: int, n_bases: int, per_day: int):
        self.seed, self.per_day = seed, per_day
        with open(FIXTURE) as f:
            items = [it for page in json.load(f) for it in page["items"]]
        self.titles = sorted({re.sub(r" \d+$", "", it["name"]) for it in items})
        self.vocab = {k: sorted({json.dumps(it[k], sort_keys=True) for it in items})
                      for k in ("area", "schedule", "experience", "employment")}
        self.bases = base_names(seed, n_bases)
        weights = [1 / (k + 1) ** 1.1 for k in range(n_bases)]
        self.cum = [sum(weights[: k + 1]) for k in range(n_bases)]

    @staticmethod
    def extracted_at(d: int) -> datetime:
        return datetime(2024, 3, 1 + d, 6, 0, tzinfo=timezone.utc)

    def day(self, d: int) -> tuple[list[dict], list[int]]:
        """The items of day ``d`` and the true base index of each."""
        rng = random.Random(f"{self.seed}-{d}")
        picks = rng.choices(range(len(self.bases)), cum_weights=self.cum, k=self.per_day)
        items = []
        for i, b in enumerate(picks):
            cur = rng.choice(sorted(CURRENCY_BASE))
            lo = CURRENCY_BASE[cur] * rng.randint(8, 20) // 10
            salary = None if rng.random() < 0.2 else {
                "from": None if rng.random() < 0.15 else lo,
                "to": None if rng.random() < 0.15 else lo + CURRENCY_BASE[cur] // 2,
                "currency": cur,
                "gross": rng.random() < 0.5,
            }
            at = self.extracted_at(d) + timedelta(hours=3, seconds=rng.randrange(36000))
            pid = f"{d + 1:02d}{i:06d}"
            items.append({
                "id": pid,
                "name": f"{rng.choice(self.titles)} {rng.randrange(1000)}",
                # 09:00-19:00 UTC written as +0300 local time: the extraction day
                "published_at": (at + timedelta(hours=3)).strftime("%Y-%m-%dT%H:%M:%S+0300"),
                **{k: json.loads(rng.choice(v)) for k, v in self.vocab.items()},
                "salary": salary,
                "employer": {"id": str(rng.randrange(10_000)),
                             "name": variant(self.bases[b], rng.randrange(8))},
                "snippet": {"requirement": f"Data tooling; seniority {rng.randrange(4)}",
                            "responsibility": "Design and operate data pipelines"},
                "alternate_url": f"https://hh.example/vacancy/{pid}",
            })
        return items, picks

