"""Seeded input generators for the three benchmark workloads.

Every generator is pure Python driven by one ``random.Random`` built
from the run seed, so the same seed writes byte-identical files. The
engine only ever sees the files; the ground truth the correctness gates
need (planted duplicate / near-duplicate / contamination sets) is
returned to the benchmark alongside the paths.
"""

from __future__ import annotations

import json
import os
import random
import string
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

PAGES = ["home", "catalog", "product", "cart", "checkout", "profile",
         "search", "wishlist", "support", "blog", "deals"]
ACTIONS = ["click", "scroll", "add_to_cart", "remove_from_cart",
           "search", "filter", "review", "share"]
DEVICES = ["mobile", "desktop", "tablet"]
EVENT_TYPES = ["page_view", "click", "login", "logout", "purchase",
               "error", "search"]
STATUSES = ["open", "in_progress", "resolved", "closed"]
ISSUE_TYPES = ["billing", "technical", "account", "delivery",
               "product", "other"]


def _rng(seed: int, workload: str) -> random.Random:
    return random.Random(f"{workload}:{seed}")


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _write_jsonl(path: str, rows) -> int:
    """Write rows as JSON lines; returns the row count."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = 0
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")
            n += 1
    return n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


# --- medallion_refresh -------------------------------------------------------


@dataclass
class MedallionSize:
    sessions: int = 10_000
    events: int = 15_000
    tickets: int = 2_000
    readings: int = 15_000
    users: int = 2_000
    devices: int = 200
    days: int = 180
    dup_share: float = 0.01


@dataclass
class MedallionInputs:
    rows: int
    bytes: int


def _skewed_user(rng: random.Random, n_users: int) -> str:
    # cubed uniform: a few heavy users own most of the activity
    return f"u{int(n_users * rng.random() ** 3):05d}"


def gen_medallion(root: str, seed: int, size: MedallionSize) -> MedallionInputs:
    """Mongo-export JSON lines for user_sessions, event_logs and
    support_tickets plus an IoT readings export, each with re-inserted
    exact duplicates (the reference seeder's dupes), anomalies the
    clean layer must filter, skewed per-user activity and nested
    arrays / structs."""
    rng = _rng(seed, "medallion")
    span_s = size.days * 86400

    sessions = []
    for i in range(size.sessions):
        start = EPOCH + timedelta(seconds=rng.randrange(span_s))
        roll = rng.random()
        if roll < 0.02:
            end = start - timedelta(seconds=rng.randrange(60, 3600))
        elif roll < 0.04:
            end = start + timedelta(hours=rng.randrange(25, 48))
        else:
            end = start + timedelta(seconds=rng.randrange(30, 7200))
        sessions.append({
            "session_id": f"s{i:07d}",
            "user_id": _skewed_user(rng, size.users),
            "start_time": _iso(start),
            "end_time": _iso(end),
            "pages_visited": [rng.choice(PAGES) for _ in range(rng.randint(1, 8))],
            "device": rng.choice(DEVICES),
            "actions": [rng.choice(ACTIONS) for _ in range(rng.randint(0, 6))],
        })

    events = []
    for i in range(size.events):
        details = {"page": rng.choice(PAGES), "user_id": _skewed_user(rng, size.users)}
        if rng.random() < 0.3:
            details["extra"] = {"error_code": rng.randrange(400, 600)}
        events.append({
            "event_id": f"e{i:08d}",
            "timestamp": _iso(EPOCH + timedelta(seconds=rng.randrange(span_s))),
            "event_type": rng.choice(EVENT_TYPES),
            "details": details,
        })

    tickets = []
    for i in range(size.tickets):
        created = EPOCH + timedelta(seconds=rng.randrange(span_s))
        # whole minutes: resolution hours never sit on a rounding half
        delta = timedelta(minutes=rng.randrange(10, 10080))
        updated = created - timedelta(hours=1) if rng.random() < 0.02 else created + delta
        msgs = [
            {
                "sender": "user" if j % 2 == 0 else "support",
                "message": f"message {j}",
                "timestamp": _iso(created + timedelta(minutes=30 * j)),
            }
            for j in range(rng.randint(1, 5))
        ]
        tickets.append({
            "ticket_id": f"t{i:06d}",
            "user_id": _skewed_user(rng, size.users),
            "status": rng.choice(STATUSES),
            "issue_type": rng.choice(ISSUE_TYPES),
            "messages": msgs,
            "created_at": _iso(created),
            "updated_at": _iso(updated),
        })

    readings = []
    for i in range(size.readings):
        roll = rng.random()
        if roll < 0.01:
            temp = rng.uniform(80.0, 150.0)  # sensor fault: trimmed by p95
        elif roll < 0.02:
            temp = rng.uniform(-90.0, -40.0)
        else:
            temp = rng.gauss(21.0, 6.0)
        readings.append({
            "reading_id": f"r{i:08d}",
            "device_id": f"d{rng.randrange(size.devices):04d}",
            "ts": _iso(EPOCH + timedelta(seconds=rng.randrange(span_s))),
            "temperature": round(temp, 2),
        })

    rows = 0
    for name, docs in (("user_sessions", sessions), ("event_logs", events),
                       ("support_tickets", tickets), ("iot_readings", readings)):
        dupes = rng.sample(docs, int(len(docs) * size.dup_share))
        docs.extend(dupes)
        rng.shuffle(docs)
        rows += _write_jsonl(f"{root}/{name}/part-0.json", docs)
    return MedallionInputs(rows=rows, bytes=dir_bytes(root))


# --- incremental_refresh -----------------------------------------------------


@dataclass
class IncrementalSize:
    days: int = 20
    rows_per_day: int = 1_000
    sensors: int = 400
    sites: int = 20
    batches: int = 32
    new_rows: int = 400
    late_updates: int = 150
    retractions: int = 30


@dataclass
class IncrementalInputs:
    history: str
    batches: list[str]
    history_bytes: int
    batch_rows: list[int]
    batch_bytes: list[int]


def _day(i: int) -> str:
    return (EPOCH + timedelta(days=i)).strftime("%Y-%m-%d")


def gen_incremental(root: str, seed: int, size: IncrementalSize) -> IncrementalInputs:
    """A day-partitioned IoT fact history plus a sequence of CDC delta
    batches. Each batch lands new readings on the next day, late
    higher-version corrections to older keys (mostly recent days, with
    a long tail) and retractions (tombstones). Every batch is written
    twice, as the engine consumes it: ``upserts`` (the newest row image
    per key, for the keep-newest sink) and ``changes`` (signed
    before/after images, for the additive mart)."""
    rng = _rng(seed, "incremental")
    live: dict[str, dict] = {}
    keys_by_day: dict[int, list[str]] = {}
    seq = 0

    def new_row(day: int) -> dict:
        nonlocal seq
        seq += 1
        value_c = int(round(rng.gauss(2100, 600)))
        row = {
            "reading_id": f"k{seq:09d}",
            "version": 1,
            "day": _day(day),
            "sensor_id": f"s{rng.randrange(size.sensors):04d}",
            "site": f"site{rng.randrange(size.sites):02d}",
            "value_c": value_c,
            "value": value_c / 100.0,
            "deleted": False,
        }
        live[row["reading_id"]] = row
        keys_by_day.setdefault(day, []).append(row["reading_id"])
        return row

    history = [new_row(d) for d in range(size.days) for _ in range(size.rows_per_day)]
    _write_jsonl(f"{root}/history/part-0.json", history)

    batches, batch_rows, batch_bytes = [], [], []
    for b in range(size.batches):
        newest = size.days + b
        upserts, changes = [], []
        for _ in range(size.new_rows):
            row = new_row(newest)
            upserts.append(row)
            changes.append({**row, "weight": 1})

        def pick_old() -> str | None:
            # late data: geometric age, so recent days are hit hardest
            age = min(int(rng.expovariate(0.35)), newest - 1)
            cands = keys_by_day.get(newest - 1 - age)
            for _ in range(8):
                k = rng.choice(cands)
                if k in live:
                    return k
            return None

        touched: set[str] = set()
        for kind, n in (("update", size.late_updates), ("retract", size.retractions)):
            for _ in range(n):
                k = pick_old()
                if k is None or k in touched:
                    continue
                touched.add(k)
                old = live[k]
                changes.append({**old, "weight": -1})
                if kind == "update":
                    value_c = old["value_c"] + rng.randrange(-300, 301)
                    new = {**old, "version": old["version"] + 1,
                           "value_c": value_c, "value": value_c / 100.0}
                    live[k] = new
                    changes.append({**new, "weight": 1})
                else:
                    new = {**old, "version": old["version"] + 1, "deleted": True}
                    del live[k]
                upserts.append(new)
        bdir = f"{root}/batches/b{b:04d}"
        batch_rows.append(_write_jsonl(f"{bdir}/upserts/part-0.json", upserts))
        _write_jsonl(f"{bdir}/changes/part-0.json", changes)
        batches.append(bdir)
        batch_bytes.append(dir_bytes(f"{bdir}/upserts"))
    return IncrementalInputs(
        history=f"{root}/history",
        batches=batches,
        history_bytes=dir_bytes(f"{root}/history"),
        batch_rows=batch_rows,
        batch_bytes=batch_bytes,
    )


# --- text_curation -----------------------------------------------------------


@dataclass
class TextSize:
    docs: int = 2_000
    vocab: int = 8_000
    lines: int = 4
    words_per_line: int = 12
    exact_dup_share: float = 0.05
    near_dup_share: float = 0.05
    boilerplate_share: float = 0.03
    contaminated_share: float = 0.02
    eval_texts: int = 40
    eval_words: int = 30


@dataclass
class TextInputs:
    docs: str
    eval_set: str
    rows: int
    bytes: int
    expected_kept: set[int]
    planted: dict[str, set[int]]


BOILERPLATE = [
    "subscribe to our newsletter for weekly updates",
    "click here to accept all cookies on this site",
    "all rights reserved terms of service apply",
    "share this page with your friends and family",
]


def gen_text(root: str, seed: int, size: TextSize) -> TextInputs:
    """A document corpus with planted exact duplicates (case / padding
    variants), near-duplicates (one substituted word, Jaccard ~0.9 on
    word 3-shingles), boilerplate documents (repeated lines and symbol
    runs that fail the Gopher screen) and documents contaminated by a
    12-word span of a small eval set. Returns the expected kept ids."""
    rng = _rng(seed, "text")
    vocab = sorted({
        "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(3, 9)))
        for _ in range(size.vocab)
    })

    def words(n: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(n)]

    def doc_lines() -> list[list[str]]:
        return [words(size.words_per_line) for _ in range(size.lines)]

    eval_texts = [words(size.eval_words) for _ in range(size.eval_texts)]
    base = [doc_lines() for _ in range(size.docs)]
    ids = list(range(size.docs))
    rng.shuffle(ids)
    n_boiler = int(size.docs * size.boilerplate_share)
    n_contam = int(size.docs * size.contaminated_share)
    boiler = set(ids[:n_boiler])
    contaminated = set(ids[n_boiler:n_boiler + n_contam])
    clean = ids[n_boiler + n_contam:]

    for i in boiler:
        line = rng.choice(BOILERPLATE)
        base[i] = [line.split()] * 8 + [["###", "...", "###"]]
    for i in contaminated:
        span = rng.choice(eval_texts)
        start = rng.randrange(len(span) - 12)
        ln = base[i][rng.randrange(size.lines)]
        pos = rng.randrange(len(ln))
        ln[pos:pos] = span[start:start + 12]

    texts = {i: "\n".join(" ".join(ln) for ln in base[i]) for i in range(size.docs)}
    next_id = size.docs
    exact_copies, near_copies = set(), set()
    n_exact = int(size.docs * size.exact_dup_share)
    n_near = int(size.docs * size.near_dup_share)
    sources = rng.sample(clean, n_exact + n_near)
    for src in sources[:n_exact]:
        t = texts[src]
        texts[next_id] = rng.choice([t.upper(), "  " + t, t + "   ", t.capitalize()])
        exact_copies.add(next_id)
        next_id += 1
    for src in sources[n_exact:]:
        lines = [list(ln) for ln in base[src]]
        ln = lines[rng.randrange(len(lines))]
        pos = rng.randrange(len(ln))
        old = ln[pos]
        while ln[pos] == old:
            ln[pos] = rng.choice(vocab)
        texts[next_id] = "\n".join(" ".join(x) for x in lines)
        near_copies.add(next_id)
        next_id += 1

    order = list(texts)
    rng.shuffle(order)
    docs_path = f"{root}/docs/part-0.json"
    rows = _write_jsonl(docs_path, ({"doc_id": i, "text": texts[i]} for i in order))
    _write_jsonl(
        f"{root}/eval/part-0.json",
        ({"eval_id": j, "text": " ".join(t)} for j, t in enumerate(eval_texts)),
    )
    kept = set(range(size.docs)) - boiler - contaminated
    return TextInputs(
        docs=f"{root}/docs",
        eval_set=f"{root}/eval",
        rows=rows,
        bytes=dir_bytes(f"{root}/docs"),
        expected_kept=kept,
        planted={"exact": exact_copies, "near": near_copies,
                 "boilerplate": boiler, "contaminated": contaminated},
    )
