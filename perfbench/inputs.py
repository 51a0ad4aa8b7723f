"""Seeded inputs for every workload.

Everything a run feeds the program comes from here and only from
``--seed``: the Stripe NDJSON drops, the analyst query parameters, the
corpus tables and the order of the corpus queries. The same seed gives
byte-identical inputs.

Invoice documents take their shape (line fan-out, tax behaviour,
missing/zero-length periods) from ``sources.fixtures.make_invoice``;
created dates, amounts, currencies, customers, subscriptions and period
lengths come from this module's own ``random.Random(seed)``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pandas as pd

from stripe_data_pipeline_spark.sources.fixtures import CURRENCIES, make_invoice

DAY = 86400
HISTORY_START = 1710720000  # 2024-03-18T00:00:00Z: history and periods straddle Q1/Q2
# Assumed, not measured (the reference publishes no traffic figures):
# the customer and subscription populations, status events per
# subscription, and how many invoices share the watermark second.
N_CUSTOMERS = 300
N_SUBSCRIPTIONS = 120
EVENTS_PER_SUBSCRIPTION = 4
BOUNDARY_INVOICES = 3  # day-one invoices stamped exactly at the watermark
PERIOD_DAYS = (7, 10, 14)

CORPUS_QUERIES = (
    "lsh_quality_keepers",
    "semdedup_keepers",
    "ivfpq_topk",
    "bpe_encoded_docs",
    "lm_perplexity_scores",
    "media_jpeg_decode_check",
    "suffix_array_ranks_scaled",
)


def _invoice(i: int, created: int, rng: random.Random) -> dict:
    doc = make_invoice(i, rng)
    shift = created - doc["created"]
    currency = rng.choice(CURRENCIES)
    sub = f"sub_{rng.randrange(N_SUBSCRIPTIONS)}"
    doc.update(
        created=created,
        period_start=doc["period_start"] + shift,
        period_end=doc["period_end"] + shift,
        currency=currency,
        customer=f"cus_{rng.randrange(N_CUSTOMERS)}",
        subscription=sub,
    )
    for li in doc["lines"]["data"]:
        start = li["period"]["start"] + shift
        end = li["period"]["end"]
        if end is not None and end > li["period"]["start"]:
            end = start + rng.choice(PERIOD_DAYS) * DAY
        elif end is not None:  # keep the zero-length case zero-length
            end = start
        li["period"] = {"start": start, "end": end}
        li.update(amount=rng.randrange(500, 100_000), currency=currency, subscription=sub)
    total = sum(li["amount"] for li in doc["lines"]["data"])
    paid = doc["amount_paid"] > 0
    doc.update(
        amount_due=total,
        amount_paid=total if paid else 0,
        amount_remaining=0 if paid else total,
        subtotal=total,
        total=total,
    )
    return doc


def _subscription(k: int, created: int, rng: random.Random) -> dict:
    return {
        "id": f"sub_{k}",
        "created": created,
        "status": rng.choice(("active", "active", "active", "canceled")),
        "customer": f"cus_{rng.randrange(N_CUSTOMERS)}",
        "metadata": {},
    }


def _event(e: int, created: int, rng: random.Random) -> dict:
    status = rng.choice(("active", "past_due", "canceled", "active"))
    sub = f"sub_{rng.randrange(N_SUBSCRIPTIONS)}"
    return {
        "id": f"evt_{e}",
        "created": created,
        "type": "customer.subscription.updated",
        "data": json.dumps({"object": {"id": sub, "status": status}}),
    }


class StripeDrops:
    """History (day one) and the next day's drop (day two).

    Day one holds ``n_invoices`` invoices, ``N_SUBSCRIPTIONS``
    subscriptions and their status events, created uniformly over
    ``span_days`` days from ``HISTORY_START`` and up to the watermark,
    the newest invoice's created second; the last
    ``BOUNDARY_INVOICES`` invoices are stamped exactly at the watermark.
    Day two is the next day at day one's daily rate of each (so
    ``n_invoices / span_days`` new invoices), plus the ``created >=
    watermark`` re-delivery of the boundary invoices (the extractor's
    inclusive cursor).
    """

    def __init__(self, seed: int, n_invoices: int, span_days: int):
        rng = random.Random(seed)
        end = HISTORY_START + span_days * DAY

        def day_one(n: int, stop: int) -> list[int]:
            return sorted(rng.randrange(HISTORY_START, stop) for _ in range(n))

        def day_two(n: int) -> list[int]:
            return sorted(rng.randrange(self.watermark + 1, self.watermark + DAY) for _ in range(round(n / span_days)))

        created = day_one(n_invoices, end)
        self.watermark = created[-1]
        created[-BOUNDARY_INVOICES:] = [self.watermark] * BOUNDARY_INVOICES
        self.day_one_invoices = [_invoice(i, c, rng) for i, c in enumerate(created)]
        self.day_two_invoices = [
            doc for doc in self.day_one_invoices if doc["created"] >= self.watermark
        ] + [_invoice(n_invoices + i, c, rng) for i, c in enumerate(day_two(n_invoices))]

        self.day_one_subs = [_subscription(k, c, rng) for k, c in enumerate(day_one(N_SUBSCRIPTIONS, self.watermark))]
        self.day_two_subs = [
            _subscription(N_SUBSCRIPTIONS + k, c, rng) for k, c in enumerate(day_two(N_SUBSCRIPTIONS))
        ]
        n_events = EVENTS_PER_SUBSCRIPTION * N_SUBSCRIPTIONS
        self.day_one_events = [_event(e, c, rng) for e, c in enumerate(day_one(n_events, self.watermark))]
        self.day_two_events = [_event(n_events + e, c, rng) for e, c in enumerate(day_two(n_events))]

    def write(self, raw_dir: str, day: str) -> int:
        """Write one drop (``"one"``, ``"two"`` or ``"union"``: both
        days' files concatenated, the backfill of day one ∪ day two);
        returns its raw byte count."""
        parts = {
            "one": (self.day_one_invoices, self.day_one_subs, self.day_one_events),
            "two": (self.day_two_invoices, self.day_two_subs, self.day_two_events),
        }
        if day == "union":
            one, two = parts["one"], parts["two"]
            parts["union"] = tuple(a + b for a, b in zip(one, two))
        invoices, subs, events = parts[day]
        os.makedirs(raw_dir, exist_ok=True)
        total = 0
        for name, docs in (
            ("invoices.json", invoices),
            ("subscriptions.json", subs),
            ("subscription_updates.json", events),
        ):
            body = "".join(json.dumps(d) + "\n" for d in docs).encode()
            with open(os.path.join(raw_dir, name), "wb") as f:
                f.write(body)
            total += len(body)
        return total


def analyst_mix(seed: int, n: int, span_days: int) -> list[tuple[str, tuple]]:
    """``n`` analyst calls, a quarter of each kind, shuffled by seed.
    Each as-of query gets one date in each of ``n // 4`` equal strata
    between the first invoice and the last service day, at a seeded
    offset within the stratum; the quarter query alternates between the
    two quarters the data covers. A query's cost follows how much of
    the mart its date covers, so stratifying per query keeps each
    query's median cost alike across seeds."""
    rng = random.Random(seed ^ 0x5EED)
    first = dt.datetime.fromtimestamp(HISTORY_START, dt.timezone.utc).date()
    days = span_days + max(PERIOD_DAYS)  # past the last invoice's longest period
    per_kind = n // 4

    def strata() -> list[dt.date]:
        return [first + dt.timedelta(days=int((k + rng.random()) * days / per_kind)) for k in range(per_kind)]

    calls = (
        [("total_deferred_asof", (d,)) for d in strata()]
        + [("deferred_by_customer", (d,)) for d in strata()]
        + [("deferred_trend", ())] * per_kind
        + [("recognized_for_quarter", (2024, 1 + k % 2)) for k in range(per_kind)]
    )
    rng.shuffle(calls)
    return calls


def corpus_orders(seed: int):
    """The query order of each successive corpus pass."""
    rng = random.Random(seed ^ 0xC0FFEE)
    while True:
        yield rng.sample(CORPUS_QUERIES, len(CORPUS_QUERIES))


_WORDS = (
    "a the spark data table query join scan filter group agg sort hash "
    "order key value row column part line batch stream window merge big "
    "small fast slow customer vector"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def write_corpus(sf_dir: str, seed: int, n_docs: int, n_vectors: int, dim: int = 64) -> None:
    """The two tables the corpus queries read, shaped like the shared
    test data: ``documents`` (bag-of-words text over a small vocabulary,
    with exact and near duplicates) and ``embeddings`` (unit vectors
    around ten label centres)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.02:  # exact duplicate
            texts.append(texts[int(rng.integers(i))])
            continue
        if i >= 10 and rng.random() < 0.06:  # near duplicate: a few words changed
            words = texts[int(rng.integers(i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(len(words)))] = _WORDS[int(rng.integers(len(_WORDS)))]
            texts.append(" ".join(words))
            continue
        n_words = int(rng.integers(8, 100))
        texts.append(" ".join(_WORDS[int(w)] for w in rng.integers(len(_WORDS), size=n_words)))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[int(k)] for k in rng.integers(len(_LANGS), size=n_docs)],
            "source": [f"src{i % 5}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(10, size=n_vectors).astype(np.int32)
    vecs = centres[labels] + 0.8 * rng.normal(size=(n_vectors, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pd.DataFrame(
        {"vec_id": np.arange(n_vectors, dtype=np.int64), "embedding": list(vecs), "label": labels}
    )
    os.makedirs(sf_dir, exist_ok=True)
    docs.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    emb.to_parquet(os.path.join(sf_dir, "embeddings.parquet"), index=False)
