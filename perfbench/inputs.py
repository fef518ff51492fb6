"""Seeded inputs for every workload.  The same seed gives byte-identical
inputs; each generator also returns a SHA-256 of its canonical bytes.

The program under test only ever sees what these functions produce.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
import time
from typing import Iterator


def sha256_lines(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Zipf:
    """Ranks 0..n-1 with P(rank r) proportional to 1 / (r + 1) ** s."""

    def __init__(self, n: int, s: float):
        acc, self.cdf = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cdf.append(acc)

    def sample(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cdf, rng.random() * self.cdf[-1])


# ------------------------------------------------------------ event streams


class EventStream:
    """The infinite seeded event sequence of ``stream_fresh``.

    Events carry ``seq`` (position in the stream), ``event_id``, a
    Zipf-skewed ``user``, ``value`` and ``kind``.  A share ``dup_share``
    of emissions re-send an event emitted at most ``dup_ticks`` ticks
    earlier, with its original ``event_id``, payload and creation time
    (within the watermark delay, so ``$deduplicate`` must drop them).
    Creation times are assigned by the caller, so the sequence itself is
    independent of wall-clock timing.
    """

    KINDS = ("click", "click", "click", "view", "view", "ping")

    def __init__(self, seed: int, users: int, skew: float,
                 dup_share: float, dup_ticks: int):
        self.rng = random.Random(f"stream_fresh:{seed}")
        self.zipf = Zipf(users, skew)
        self.dup_share = dup_share
        self.dup_ticks = dup_ticks
        self.seq = 0
        self.next_id = 0
        self.recent: list[list[tuple]] = []  # per tick: originals

    def tick(self, n: int, created_ms: int) -> list[tuple]:
        """The next ``n`` events, as (seq, event_id, user, value, kind,
        created_ms) tuples; new events are created at ``created_ms``."""
        rng = self.rng
        out, originals = [], []
        pool = [e for t in self.recent for e in t]
        for _ in range(n):
            self.seq += 1
            if pool and rng.random() < self.dup_share:
                e = pool[rng.randrange(len(pool))]
                out.append((self.seq,) + e[1:])
                continue
            self.next_id += 1
            e = (self.seq, self.next_id, f"u{self.zipf.sample(rng)}",
                 rng.randrange(1, 100), rng.choice(self.KINDS), created_ms)
            out.append(e)
            originals.append(e)
        self.recent.append(originals)
        if len(self.recent) > self.dup_ticks:
            self.recent.pop(0)
        return out


def event_json(e: tuple) -> str:
    seq, eid, user, value, kind, ms = e
    secs, milli = divmod(ms, 1000)
    ts = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(secs)) + f".{milli:03d}Z"
    return (f'{{"seq":{seq},"event_id":{eid},"user":"{user}",'
            f'"value":{value},"kind":"{kind}","created_ms":{ms},'
            f'"ts":"{ts}"}}')


def stream_hash(seed: int, params: dict, events: int) -> str:
    """Hash of the first ``events`` events of the seeded stream (creation
    times left out: the generator stamps them with its schedule)."""
    s = EventStream(seed, params["users"], params["skew"],
                    params["dup_share"], params["dup_ticks"])
    per_tick = params["rate"] * params["tick_ms"] // 1000
    lines: list[str] = []
    while len(lines) < events:
        lines.extend(json.dumps(e[:5]) for e in s.tick(per_tick, 0))
    return sha256_lines(lines[:events])


def upsert_backlog(seed: int, batches: int, per_batch: int, users: int,
                   skew: float) -> tuple[list[list[tuple]], list[tuple], str]:
    """``stream_upsert`` input: ``batches`` lists of (seq, user, value,
    created_ms) events, and the static ``users`` dimension rows
    (_id, region, tier)."""
    rng = random.Random(f"stream_upsert:{seed}")
    zipf = Zipf(users, skew)
    seq = 0
    out = []
    for _ in range(batches):
        batch = []
        for _ in range(per_batch):
            seq += 1
            batch.append((seq, f"u{zipf.sample(rng)}", rng.randrange(1, 1000),
                          1_700_000_000_000 + seq))
        out.append(batch)
    dim = [(f"u{i}", f"r{rng.randrange(7)}", rng.randrange(1, 6))
           for i in range(users)]
    digest = sha256_lines([json.dumps(e) for b in out for e in b]
                          + [json.dumps(d) for d in dim])
    return out, dim, digest


# ------------------------------------------------------------ text corpus

_STOP = {
    "en": ["the", "of", "and", "to", "in", "is", "it", "that", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "los", "de", "y", "es", "un", "una", "que", "por"],
}


def corpus(seed: int, docs: int, near_dup_share: float,
           low_quality_share: float) -> tuple[list[tuple], str]:
    """``batch_curate`` corpus: (doc_id, text, lang) rows.  Languages are
    mixed (en-heavy), a share of documents is low quality (short or
    punctuation-heavy), and a share re-uses an earlier document with one
    or two words changed (near duplicates for ``$minhashDedup``)."""
    rng = random.Random(f"batch_curate:{seed}")
    vocab = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                     for _ in range(rng.randrange(3, 10)))
             for _ in range(4000)]
    zipf = Zipf(len(vocab), 1.05)
    langs = ["en"] * 6 + ["de", "de", "fr", "fr", "es"]
    rows: list[tuple] = []
    for doc_id in range(docs):
        r = rng.random()
        if rows and r < near_dup_share:
            _src, text, lang = rows[rng.randrange(len(rows))]
            words = text.split(" ")
            for _ in range(rng.randrange(1, 3)):
                words[rng.randrange(len(words))] = vocab[zipf.sample(rng)]
            text = " ".join(words)
        elif r < near_dup_share + low_quality_share:
            lang = rng.choice(langs)
            words = [vocab[zipf.sample(rng)] + rng.choice(["!!", "?!", ";;"])
                     for _ in range(rng.randrange(4, 20))]
            text = " ".join(words)
        else:
            lang = rng.choice(langs)
            words = [rng.choice(_STOP[lang]) if rng.random() < 0.3
                     else vocab[zipf.sample(rng)]
                     for _ in range(rng.randrange(60, 140))]
            text = " ".join(words) + "."
        rows.append((doc_id, text, lang))
    return rows, sha256_lines(json.dumps(r) for r in rows)


# ------------------------------------------------------------ burst

STATUSES = ["new", "paid", "shipped", "returned"]
TAGS = ["red", "blue", "green", "gift", "bulk", "promo", "rush", "eco"]
REGIONS = ["north", "south", "east", "west", "central"]


def burst_collections(seed: int, orders: int, customers: int
                      ) -> tuple[list[tuple], list[tuple], str]:
    """Small collections for ``pipeline_burst``: orders (_id, cust, amount,
    qty, status, day, tags) and customers (_id, region, tier).  About one
    order in ten names a customer that does not exist."""
    rng = random.Random(f"pipeline_burst:data:{seed}")
    o = [(i, rng.randrange(int(customers * 1.1)), rng.randrange(1, 1001),
          rng.randrange(1, 21), rng.choice(STATUSES), rng.randrange(365),
          rng.sample(TAGS, rng.randrange(0, 4)))
         for i in range(orders)]
    c = [(i, rng.choice(REGIONS), rng.randrange(1, 4))
         for i in range(customers)]
    return o, c, sha256_lines([json.dumps(r) for r in o]
                              + [json.dumps(r) for r in c])


def burst_requests(seed: int) -> Iterator[tuple[str, list, str]]:
    """Endless seeded stream of distinct small pipelines, each paired with
    the DuckDB SQL that computes the same result: (template, pipeline,
    sql).  Templates, in rotation: $match/$addFields/$group/$project, $lookup (size
    only, rewritten by the plan optimizer), $lookup + unwind + $group,
    $unwind + $group, $bucket."""
    rng = random.Random(f"pipeline_burst:requests:{seed}")
    n = 0
    while True:
        # templates in a fixed rotation, so every window has the same mix
        t = n % 5
        n += 1
        if t == 0:
            status = rng.choice(STATUSES)
            k = rng.randrange(1, 900)
            mul = rng.randrange(1, 5)
            key = rng.choice(["qty", "cust_band"])
            pipe = [
                {"$match": {"status": status, "amount": {"$gte": k}}},
                {"$addFields": {"rev": {"$multiply": ["$amount", "$qty",
                                                      mul]},
                                "cust_band": {"$mod": ["$cust", 16]}}},
                {"$group": {"_id": f"${key}", "n": {"$sum": 1},
                            "rev": {"$sum": "$rev"},
                            "mx": {"$max": "$amount"}}},
                {"$project": {"_id": 1, "n": 1, "rev": 1, "mx": 1}},
            ]
            sql = (f"SELECT {key} AS _id, count(*) AS n, "
                   f"sum(amount * qty * {mul}) AS rev, max(amount) AS mx "
                   f"FROM (SELECT *, cust % 16 AS cust_band FROM orders) "
                   f"WHERE status = '{status}' AND amount >= {k} "
                   f"GROUP BY {key}")
            yield "group", pipe, sql
        elif t == 1:
            k = rng.randrange(20, 1000)
            pipe = [
                {"$match": {"amount": {"$lt": k}}},
                {"$lookup": {"from": "customers", "localField": "cust",
                             "foreignField": "_id", "as": "c"}},
                {"$project": {"_id": 1, "amount": 1,
                              "nc": {"$size": "$c"}}},
                {"$group": {"_id": "$nc", "n": {"$sum": 1},
                            "amt": {"$sum": "$amount"}}},
            ]
            sql = ("SELECT nc AS _id, count(*) AS n, sum(amount) AS amt FROM "
                   "(SELECT o._id, o.amount, count(c._id) AS nc FROM orders o "
                   "LEFT JOIN customers c ON o.cust = c._id "
                   f"WHERE o.amount < {k} GROUP BY o._id, o.amount) "
                   "GROUP BY nc")
            yield "lookup_size", pipe, sql
        elif t == 2:
            tier = rng.randrange(1, 4)
            day = rng.randrange(30, 365)
            pipe = [
                {"$match": {"day": {"$lt": day}}},
                {"$lookup": {"from": "customers", "localField": "cust",
                             "foreignField": "_id", "as": "c",
                             "unwind": True}},
                {"$match": {"c.tier": {"$gte": tier}}},
                {"$group": {"_id": "$c.region", "n": {"$sum": 1},
                            "amt": {"$sum": "$amount"}}},
            ]
            sql = ("SELECT c.region AS _id, count(*) AS n, "
                   "sum(o.amount) AS amt FROM orders o "
                   "JOIN customers c ON o.cust = c._id "
                   f"WHERE o.day < {day} AND c.tier >= {tier} "
                   "GROUP BY c.region")
            yield "lookup_unwind", pipe, sql
        elif t == 3:
            day = rng.randrange(30, 365)
            pipe = [
                {"$match": {"day": {"$lt": day}}},
                {"$unwind": "$tags"},
                {"$group": {"_id": "$tags", "n": {"$sum": 1},
                            "q": {"$sum": "$qty"}}},
            ]
            sql = ("SELECT tag AS _id, count(*) AS n, sum(qty) AS q FROM "
                   f"(SELECT unnest(tags) AS tag, qty FROM orders "
                   f"WHERE day < {day}) GROUP BY tag")
            yield "unwind", pipe, sql
        else:
            b = sorted(rng.sample(range(50, 1000), 3))
            status = rng.choice(STATUSES)
            bounds = [0] + b + [1001]
            pipe = [
                {"$match": {"status": {"$ne": status}}},
                {"$bucket": {"groupBy": "$amount", "boundaries": bounds,
                             "default": -1,
                             "output": {"n": {"$sum": 1},
                                        "q": {"$sum": "$qty"}}}},
            ]
            case = " ".join(f"WHEN amount < {hi} THEN {lo}"
                            for lo, hi in zip(bounds, bounds[1:]))
            sql = (f"SELECT CASE {case} ELSE -1 END AS _id, count(*) AS n, "
                   f"sum(qty) AS q FROM orders WHERE status <> '{status}' "
                   "GROUP BY 1")
            yield "bucket", pipe, sql
