"""Output checks on the crawl store and on query results.

Pure Python over rows already read from disk, so the self-test can feed
them corrupted waves. Every check returns a list of violation strings;
an empty list means the output is correct.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter

# one scheduled row as the checks see it: the `waves` table columns
WAVE_COLS = ["pos", "url", "host", "priority", "seq"]


def expected_wave0(seed_list: list[str], limit: int, wave_size: int,
                   budget: int) -> list[str]:
    """Round-0 wave the reference order implies: `sim_wave0` (uniq, then
    the first `limit` URLs with a host), capped at `budget` URLs per host
    in seed order, cut to `wave_size`. Seeds all have priority 0, so
    (priority, seq) order is seed order."""
    from horseman_article_parser_spark.plans.reference_sim import js_url_host, sim_wave0

    per_host: Counter[str] = Counter()
    out: list[str] = []
    for url in sim_wave0(seed_list, limit, unique_hosts=False):
        host = js_url_host(url)
        if per_host[host] < budget:
            per_host[host] += 1
            out.append(url)
    return out[:wave_size]


def wave_violations(waves: dict[int, list[dict]], pending_before: dict[int, set[str]],
                    budget: int) -> list[str]:
    """Invariants of every scheduled wave.

    `waves[r]` is round r's rows (WAVE_COLS) in any order;
    `pending_before[r]` is the URL set of the pending table round r read.
    Checks: no URL is scheduled twice across rounds; no host exceeds its
    budget in a round; `pos` is 0..n-1 and strictly increasing in
    (priority, seq); every wave URL was pending in the round before."""
    bad: list[str] = []
    first_round: dict[str, int] = {}
    for r in sorted(waves):
        rows = sorted(waves[r], key=lambda row: row["pos"])
        for row in rows:
            url = row["url"]
            if url in first_round:
                bad.append(f"round {r}: {url} already scheduled in round {first_round[url]}")
            else:
                first_round[url] = r
        for host, n in Counter(row["host"] for row in rows).items():
            if n > budget:
                bad.append(f"round {r}: host {host} has {n} URLs > budget {budget}")
        if [row["pos"] for row in rows] != list(range(len(rows))):
            bad.append(f"round {r}: pos is not 0..{len(rows) - 1}")
        keys = [(row["priority"], row["seq"]) for row in rows]
        for i in range(1, len(keys)):
            if not keys[i - 1] < keys[i]:
                bad.append(f"round {r}: pos {i} breaks (priority, seq) order")
                break
        pend = pending_before.get(r)
        if pend is None:
            bad.append(f"round {r}: pending table of round {r - 1} missing")
        else:
            missing = [row["url"] for row in rows if row["url"] not in pend]
            if missing:
                bad.append(f"round {r}: {len(missing)} wave URLs were not pending, e.g. {missing[0]}")
    return bad


def wave_digest(rows: list[dict]) -> str:
    """sha256 of one wave's (pos, url) sequence."""
    h = hashlib.sha256()
    for row in sorted(rows, key=lambda row: row["pos"]):
        h.update(f"{row['pos']}\t{row['url']}\n".encode())
    return h.hexdigest()


def rows_digest(rows: list[tuple]) -> str:
    """sha256 of already-normalised, sorted result rows."""
    return hashlib.sha256(json.dumps(rows, default=repr).encode()).hexdigest()


def digest_violations(recorded: dict[str, str], current: dict[str, str]) -> list[str]:
    """Keys both runs produced must carry the same digest."""
    return [
        f"{key}: digest {current[key][:12]} differs from an earlier run's {recorded[key][:12]}"
        for key in sorted(set(recorded) & set(current))
        if recorded[key] != current[key]
    ]
