"""Seeded input generators for the benchmark.

Tweets follow the shape of ``tests/fixtures.make_tweets``: nested JSON
with Zipf-like mention and hashtag pools, about 30% retweets from a small
original-id pool, about 20% extended tweets, a few invalid lines, and
event-time disorder inside the pipeline's 5 s tolerance. One file holds
one event-time minute, so each file the stream ingests closes exactly one
hopping window. Documents feed the token-index lifecycle.

The same seed always gives the same inputs.
"""

from __future__ import annotations

import json
import random

BASE_MS = 1704067200000  # 2024-01-01 00:00:00 UTC, minute-aligned
MINUTE_MS = 60_000
# Events may run up to this far behind the minute their file covers. The
# pipeline drops rows older than max(event time) - 5 s, and the previous
# file's newest event is before this minute starts, so nothing is dropped.
DISORDER_MS = 4_000

SCREEN_NAMES = [f"user_{i}" for i in range(200)]
HASHTAGS = [f"tag{i}" for i in range(80)]
ORIGINAL_IDS = list(range(1000, 1040))
VOCAB = [f"w{i}" for i in range(400)]


def _zipf(rng: random.Random, pool: list, a: float = 1.5):
    idx = int(rng.random() ** (-1 / (a - 1))) - 1
    return pool[min(idx, len(pool) - 1)]


def tweet_minute(seed: int, minute: int, n: int) -> list[str]:
    """NDJSON lines for event-time minute ``minute``: ``n`` tweets plus one
    tweet without a timestamp and one unparseable line."""
    rng = random.Random(seed * 1_000_003 + minute)
    start = BASE_MS + minute * MINUTE_MS
    lines = []
    for i in range(n):
        ts = start + rng.randrange(MINUTE_MS)
        if minute > 0 and rng.random() < 0.02:
            ts = start - rng.randrange(DISORDER_MS)
        tid = 10_000_000 + minute * 100_000 + i
        t: dict = {
            "id": tid,
            "text": f"tweet {tid} "
            + " ".join(f"#{_zipf(rng, HASHTAGS)}" for _ in range(rng.randint(0, 2))),
            "lang": "en" if rng.random() < 0.9 else "es",
            "timestamp_ms": str(ts),
            "user": {
                "screen_name": _zipf(rng, SCREEN_NAMES),
                "followers_count": int(rng.paretovariate(1.2) * 100),
            },
            "entities": {
                "hashtags": [
                    {"text": _zipf(rng, HASHTAGS)} for _ in range(rng.randint(0, 4))
                ],
                "user_mentions": [
                    {"screen_name": _zipf(rng, SCREEN_NAMES)}
                    for _ in range(rng.randint(0, 3))
                ],
            },
        }
        if rng.random() < 0.2:
            t["extended_tweet"] = {"full_text": f"extended text of tweet {tid}"}
        if rng.random() < 0.3:
            t["retweeted_status"] = {
                "id": rng.choice(ORIGINAL_IDS),
                "extended_tweet": {"full_text": f"original of {tid}"},
            }
        lines.append(json.dumps(t))
    bad = json.loads(lines[0])
    del bad["timestamp_ms"]
    bad["id"] = 10_000_000 + minute * 100_000 + n
    lines.append(json.dumps(bad))
    lines.append("not json at all")
    return lines


def documents(seed: int, first_id: int, n: int) -> list[tuple[int, str]]:
    """``n`` (doc_id, text) rows with Zipf-distributed words."""
    rng = random.Random(seed * 7_919 + first_id)
    return [
        (
            first_id + i,
            " ".join(_zipf(rng, VOCAB, a=1.3) for _ in range(rng.randint(12, 40))),
        )
        for i in range(n)
    ]
