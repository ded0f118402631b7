#!/usr/bin/env python3
"""Seeded input generators for the benchmark.

Two input families, both a pure function of the seed:

* ``tables``: the ten harness tables the catalog queries read (region,
  nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), one parquet file each, at the row counts of
  the engine's sf0.01 harness tables and with their column
  distributions: uniform keys, line items drawn independently of their
  order (so order sizes are about Poisson(4) and ~2 % of orders have
  none), exponential event values, documents of 10-99 words from the
  same 30-word vocabulary with ~5 % near-duplicate copies of an earlier
  document, and unclustered unit embeddings.
* ``stripe``: the revenue pipeline's raw feed, one directory per day
  holding Stripe-shaped NDJSON for invoices, subscriptions and
  subscription updates. Invoice shapes follow FIXTURES.md §A.1 with
  the distributions of scripts/gen_fixture.py: multi-line invoices,
  three currencies, null, zero-length and end-before-start periods,
  inclusive, exclusive and empty taxes, non-paid invoices, and the
  line-level subscription fallback.

The engine only ever sees the files. ``expected_q1`` and ``expected_q4``
recompute the README Q1 and Q4 answers from the generator's own records
with the proration rules that ``graft.pipeline.Models`` documents,
independently of the engine.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY = 86400

# ---------------------------------------------------------------- harness tables
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "old", "new", "hot", "cold", "small", "large"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column order join small customer query "
         "big filter group stream vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def _ts_us(seconds):
    return pa.array(np.asarray(seconds, dtype=np.int64) * 1_000_000,
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n_doc):
    """Texts of 10-99 vocabulary words; about 5 % are copies of an
    earlier text with one word appended ("dup"), dropped or replaced."""
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            edit = rng.integers(0, 3)
            if edit == 0:
                words.append("dup")
            elif edit == 1 and len(words) > 1:
                words.pop()
            else:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return texts


def tables(out, seed):
    """Write the ten harness tables at the row counts of sf0.01."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_li, n_evt, n_doc = 15000, 60000, 10000, 500
    i32 = lambda a: pa.array(a, type=pa.int32())

    _write(out, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": i32(range(25)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": i32([i % 5 for i in range(25)])})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    d0 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    odate = d0 + rng.integers(0, span + 1, n_ord) * DAY
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})

    okey = rng.integers(0, n_ord, n_li)
    ship0 = int(dt.datetime(1995, 1, 2, tzinfo=dt.timezone.utc).timestamp())
    ship_span = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts_us(ship0 + rng.integers(0, ship_span + 1, n_li) * DAY)})

    e0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    ts_us = np.sort(rng.integers(0, 30 * DAY * 1_000_000, n_evt)) + e0 * 1_000_000
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_evt),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)]})

    texts = _documents(rng, n_doc)
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vec = rng.normal(0.0, 1.0, (n_doc, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_doc))})


# ---------------------------------------------------------------- Stripe feed
CURRENCIES = ["USD", "EUR", "GBP"]
USD_RATE = {"USD": 1.0, "GBP": 1.27, "EUR": 1.08}
# gen_fixture.py's service periods up to 30 days: its 90-, 180- and
# 365-day terms make a day dynamic-overwrite up to ~370 date partitions
# per mart (~33 s a day on 4 cores), which leaves no room for the
# repeated runs the benchmark needs; a day still rewrites ~35 per mart
PERIOD_DAYS = [7, 14, 30, 30, 30]
FEED_START = dt.date(2024, 1, 1)


def _epoch(day):
    return int(dt.datetime(day.year, day.month, day.day,
                           tzinfo=dt.timezone.utc).timestamp())


class StripeFeed:
    """One day of invoices per call, drawn from a seeded stream."""

    def __init__(self, seed, per_day):
        self.rng = np.random.default_rng([seed, 2])
        self.per_day = per_day
        self.n_inv = 0
        self.n_sub = 0
        self.n_li = 0

    def _line_item(self, inv_id, j, created, currency):
        r = self.rng
        amount = int(r.integers(500, 2_000_001))
        p_start = created + int(r.integers(-3, 4)) * DAY + int(r.integers(0, DAY))
        shape = r.random()
        self.n_li += 1
        # every hundredth line item has no period end: drawn at random, a
        # 1 % rate still put 11 of 348 paid line items (3.2 %) over the 3 %
        # missing-period-end alert that Checks.standardSuite raises; the
        # other shapes and their rates are gen_fixture.py's
        if self.n_li % 100 == 0:
            p_end = None
        elif shape < 0.04:
            p_end = p_start
        elif shape < 0.07:
            p_end = p_start - int(r.integers(1, 6)) * DAY
        else:
            p_end = p_start + int(r.choice(PERIOD_DAYS)) * DAY
        taxes = [{"amount": int(r.integers(10, amount // 5 + 11)),
                  "tax_behavior": str(r.choice(["inclusive", "exclusive"]))}
                 for _ in range(int(r.choice([0, 0, 1, 1, 1, 2])))]
        return {
            "id": f"li_{inv_id}_{j}",
            "type": str(r.choice(["subscription", "invoiceitem"])),
            "description": str(r.choice(["monthly plan", "annual plan", "setup fee",
                                         "usage overage", "support addon"])),
            "amount": amount,
            "currency": currency if r.random() < 0.9 else None,
            "quantity": int(r.integers(1, 13)),
            "subscription": f"sub_li_{inv_id}" if r.random() < 0.3 else None,
            "period": {"start": p_start, "end": p_end},
            "taxes": taxes,
            "metadata": {"plan": str(r.choice(["basic", "pro", "enterprise"]))},
        }

    def _invoice(self, day):
        r = self.rng
        inv_id = f"{self.n_inv:06d}"
        self.n_inv += 1
        created = _epoch(day) + int(r.integers(0, DAY))
        currency = str(r.choice(CURRENCIES))
        status = "paid" if r.random() < 0.88 else str(r.choice(["open", "void", "draft"]))
        n_lines = int(r.choice(5, p=[0.04, 0.40, 0.30, 0.18, 0.08]))
        lines = [self._line_item(inv_id, j, created, currency) for j in range(n_lines)]
        subtotal = sum(li["amount"] for li in lines)
        tax = sum(t["amount"] for li in lines for t in li["taxes"])
        return {
            "id": f"inv_{inv_id}",
            "customer": f"cus_{int(r.integers(1, 61)):03d}",
            "subscription": f"sub_inv_{inv_id}" if r.random() < 0.6 else None,
            "status": status,
            "currency": currency,
            "created": created,
            "amount_due": subtotal + tax,
            "amount_paid": subtotal + tax if status == "paid" else 0,
            "amount_remaining": 0 if status == "paid" else subtotal + tax,
            "subtotal": subtotal,
            "total": subtotal + tax,
            "tax": tax,
            "collection_method": str(r.choice(["charge_automatically", "send_invoice"])),
            "period_start": created - int(r.integers(0, 31)) * DAY,
            "period_end": created + int(r.integers(0, 31)) * DAY,
            "automatic_tax": {"enabled": bool(r.random() < 0.5),
                              "status": r.choice(["complete", None])},
            "metadata": {"source": str(r.choice(["checkout", "api", "dashboard"]))},
            "lines": {"data": lines},
        }

    def day(self, day):
        """(invoices, subscriptions, subscription_updates) created on ``day``."""
        r = self.rng
        invoices = [self._invoice(day) for _ in range(self.per_day)]
        subs, updates = [], []
        for inv in invoices:
            if inv["subscription"] is None:
                continue
            self.n_sub += 1
            subs.append({"id": inv["subscription"], "customer": inv["customer"],
                         "status": "active", "created": inv["created"],
                         "current_period_start": inv["period_start"],
                         "current_period_end": inv["period_end"]})
            if r.random() < 0.5:
                updates.append({"id": f"evt_{self.n_sub:06d}",
                                "type": "customer.subscription.updated",
                                "created": inv["created"] + int(r.integers(0, 600))})
        return invoices, subs, updates


def write_ndjson(path, records):
    with open(path, "w") as f:
        for rec in records:
            f.write(json.dumps(rec, separators=(",", ":")) + "\n")
    return os.path.getsize(path)


def _date(secs):
    return dt.datetime.fromtimestamp(secs, dt.timezone.utc).date()


def deferred_terms(invoices):
    """Per paid line item: (created, start, end, daily, amount_usd), the
    inputs of Models.deferredRevenue's proration CASE, in the engine's
    operation order so the floating-point values match bit for bit."""
    out = []
    for inv in invoices:
        if inv["status"] != "paid":
            continue
        created = _date(inv["created"])
        for li in inv["lines"]["data"]:
            taxes = li["taxes"] or []
            tax_sum = 0.0
            for t in taxes:
                tax_sum = tax_sum + float(t["amount"])
            tax_amount = tax_sum / 100
            amount = float(li["amount"]) / 100
            inclusive = bool(taxes) and taxes[0]["tax_behavior"] == "inclusive"
            without_tax = amount - tax_amount if inclusive else amount
            usd = without_tax * USD_RATE[li["currency"] or inv["currency"]]
            start = _date(li["period"]["start"])
            end = (_date(li["period"]["end"]) if li["period"]["end"] is not None
                   else start + dt.timedelta(days=1))
            days = (end - start).days
            daily = usd if days <= 0 else usd / days
            out.append((created, start, end, daily, usd))
    return out


def expected_q1(terms, as_of):
    """README Q1 over the deferred mart: sum of deferred_revenue_usd at
    ``as_of`` across every line item whose expansion covers it."""
    total = 0.0
    for created, start, end, daily, usd in terms:
        if not (created <= as_of <= end):
            continue
        if as_of < start:
            total += usd
        elif as_of < end:
            total += daily * (end - as_of).days
    return total


def expected_q4(terms, as_of):
    """README Q4 over the recognized mart: daily revenue recognized in
    ``as_of``'s calendar quarter, one daily rate per day of each line
    item's half-open service window [start, end). The calendar it joins
    ends at ``as_of``, so later days do not count."""
    q_start = dt.date(as_of.year, 3 * ((as_of.month - 1) // 3) + 1, 1)
    q_end = (dt.date(as_of.year + 1, 1, 1) if q_start.month == 10
             else dt.date(as_of.year, q_start.month + 3, 1))
    total = 0.0
    for _, start, end, daily, _ in terms:
        days = (min(end, q_end, as_of + dt.timedelta(days=1)) - max(start, q_start)).days
        if days > 0:
            total += daily * days
    return total
