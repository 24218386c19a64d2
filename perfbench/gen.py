"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed writes
byte-identical inputs. Nothing reads the engine package, so generation cost
never shows up in the engine's numbers (it is reported as ``gen_s``).

Two families:

* :func:`write_star` -- the registry's ten tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column names, types
  and value domains of the engine's reference testdata, scaled by ``sf``
  (sf=1 would be 6M lineitem rows). Near-duplicate documents (a copy of an
  earlier document plus one token) make up the last 5% of the corpus, as in
  the reference corpus, so the dedup operators find real pairs; a fixed
  share of them copy one of the first 50 documents (x85's recall anchors).
* :func:`write_etl` -- FIXTURES.md-shaped source tables for the reference
  nightly ETL DAG, plus a folder of Arcus CSV drops (header, data rows and a
  trailing totals row) for the streaming ingest.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), pa.timestamp("us"))


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """Uniform midnight timestamps in [lo, hi]."""
    span = (hi - lo).days
    return _ts(_us(lo) + rng.integers(0, span + 1, n) * _DAY_US)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


# ---------------------------------------------------------------------------
# registry tables
# ---------------------------------------------------------------------------
VOCAB = ("a the data row column table spark stream batch query join filter "
         "group agg sort merge hash key value window order customer part line "
         "scan vector fast slow big small").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def star_sizes(sf: float, corpus_sf: float) -> dict[str, int]:
    """Row counts per table: star tables follow ``sf``, the text and vector
    corpora follow ``corpus_sf`` (both on the reference's sf scale)."""
    return {
        "region": 5, "nation": 25,
        "customer": max(100, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_000, int(1_500_000 * sf)),
        "lineitem": max(4_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(200, int(50_000 * corpus_sf)),
        "embeddings": max(100, int(20_000 * corpus_sf)),
    }


def write_star(out_dir: str, seed: int, sf: float,
               corpus_sf: float) -> dict[str, int]:
    """Write the ten registry tables; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = star_sizes(sf, corpus_sf)
    rows = {}
    i32 = lambda a: pa.array(np.asarray(a, dtype="int32"))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype="int64"))  # noqa: E731

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5)})

    k = n["customer"]
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": i64(np.arange(k)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": i32(rng.integers(0, 25, k)),
        "c_acctbal": pa.array(_money(rng, k, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], k)})
    k = n["supplier"]
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": i64(np.arange(k)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": i32(rng.integers(0, 25, k)),
        "s_acctbal": pa.array(_money(rng, k, -999.99, 9999.99))})
    k = n["part"]
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": i64(np.arange(k)),
        "p_name": _pick(rng, names, k),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], k),
        "p_size": i32(rng.integers(1, 51, k)),
        "p_retailprice": pa.array(900.0 + (np.arange(k) % 1000) / 10.0)})
    k = n["orders"]
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": i64(np.arange(k)),
        "o_custkey": i64(rng.integers(0, n["customer"], k)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": pa.array(_money(rng, k, 1000.0, 500_000.0)),
        "o_orderdate": _days(rng, k, dt.datetime(1995, 1, 1),
                             dt.datetime(2001, 8, 1)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], k)})
    k = n["lineitem"]
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n["orders"], k)),
        "l_partkey": i64(rng.integers(0, n["part"], k)),
        "l_suppkey": i64(rng.integers(0, n["supplier"], k)),
        "l_linenumber": i32(rng.integers(1, 8, k)),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, k, 900.0, 105_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, k, dt.datetime(1995, 1, 2),
                            dt.datetime(2001, 11, 4))})
    k = n["events"]
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, k))
    rows["events"] = _write(out_dir, "events", {
        "event_id": i64(np.arange(k)),
        "ts": _ts(ts),
        "user_id": i64(rng.integers(0, max(10, k // 66), k)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], k),
        "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)])})

    k = n["documents"]
    n_dup = k // 20
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), int(w))])
             for w in rng.integers(10, 101, k - n_dup)]
    srcs = rng.integers(0, k - n_dup, n_dup)
    # x85 measures recall over the first 50 documents as anchors: a fixed
    # share of the copies start from one of them, so it has pairs to find
    srcs[: n_dup // 25] = rng.integers(0, min(50, k - n_dup), n_dup // 25)
    for src in srcs:
        texts.append(texts[src] + " dup")
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": i64(np.arange(k)),
        "text": pa.array(texts),
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], k,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, k)]),
        "n_chars": i64([len(t) for t in texts])})

    k, dim = n["embeddings"], 64
    labels = rng.integers(0, 10, k)
    centroids = rng.normal(0.0, 0.6, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (k, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": i64(np.arange(k)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels)})
    return rows


# ---------------------------------------------------------------------------
# reference ETL sources
# ---------------------------------------------------------------------------
ETL_AS_OF = dt.datetime(2025, 7, 1, 12, 0, 0)
STRATEGY_CODES = [3, 4, 5, 7, 8, 10, 11, 12, 13, 14, 99]  # 99: unknown, dropped


def write_etl(out_dir: str, seed: int, loans: int, csv_files: int,
              csv_rows: int) -> dict:
    """Write FIXTURES-shaped sources under ``out_dir/tables`` and raw Arcus
    CSV drops under ``out_dir/drops``.

    Returns {"rows": {table: rows}, "expect": {published table: rows}} where
    ``expect`` is what the ETL must publish, computed from the generated
    rows alone (pandas, not the engine).
    """
    tdir = os.path.join(out_dir, "tables")
    ddir = os.path.join(out_dir, "drops")
    os.makedirs(tdir, exist_ok=True)
    os.makedirs(ddir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    i32 = lambda a: pa.array(np.asarray(a, dtype="int32"))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype="int64"))  # noqa: E731
    rows: dict[str, int] = {}
    lo, hi = dt.datetime(2024, 1, 1), dt.datetime(2025, 6, 25)

    n_users = max(1, loans // 3)
    rows["user_loan_subscriptions"] = _write(tdir, "user_loan_subscriptions", {
        "UserLoanSubscriptionId": i64(np.arange(n_users) + 100_000),
        "UserId": i64(np.arange(n_users) + 10)})
    n_offers = max(1, loans // 10)
    rows["loan_offers"] = _write(tdir, "loan_offers", {
        "LoanOfferId": i64(np.arange(n_offers) + 200_000),
        "OfferPolicy": i32(rng.integers(0, 4, n_offers)),
        "CreditPolicy": i32(rng.choice([1, 2, 5, 9, 10, 14, 18, 22, 99],
                                       n_offers)),
        "MlScore": pa.array(np.round(rng.random(n_offers), 4))})

    loan_id = np.arange(loans, dtype="int64") + 1
    created = _us(lo) + rng.integers(0, (hi - lo).days * _DAY_US, loans)
    created -= created % 1_000_000
    due = created + rng.integers(14, 45, loans) * _DAY_US
    status = rng.choice([0, 1, 2, 3, 5, 6, 7, 8], loans,
                        p=[.05, .3, .4, .1, .05, .04, .03, .03])
    amount = rng.integers(10, 200, loans) * 10.0
    late = (rng.random(loans) < 0.2).astype("int32")
    offer = rng.integers(0, n_offers + n_offers // 4, loans) + 200_000
    rows["user_loans"] = _write(tdir, "user_loans", {
        "UserLoanId": i64(loan_id),
        "UserLoanSubscriptionId": i64(rng.integers(0, n_users, loans) + 100_000),
        "JitLoanOfferId": pa.array(np.where(offer < 200_000 + n_offers, offer, 0),
                                   pa.int64(), mask=offer >= 200_000 + n_offers),
        "CreatedAt": _ts(created),
        "ModifiedAt": _ts(created + rng.integers(1, 30, loans) * _DAY_US),
        "DueDate": _ts(due),
        "Amount": pa.array(amount),
        "Fee": pa.array(amount / 10.0),
        "LateFee": pa.array(np.where(late == 1, amount * 0.15, 0.0)),
        "FeeRatio": pa.array(np.full(loans, 0.1)),
        "LoanStatus": i32(status),
        "IsLate": i32(late)})

    # payments: each channel pays a random subset of loans
    def pay_channel(base: int, share: float, status_dom):
        payer = loan_id[rng.random(loans) < share]
        k = len(payer)
        ids = np.arange(k, dtype="int64") + base
        at = created[payer - 1] + rng.integers(1, 40, k) * _DAY_US
        return payer, ids, at, k, rng.choice(status_dom, k)

    payer, ids, at, k, st = pay_channel(1_000_000, 0.7, [0, 1, 2, 3, 4])
    mod = at + 3_600_000_000
    completed_null = rng.random(k) < 0.1
    rows["arcus_transactions"] = _write(tdir, "arcus_transactions", {
        "ArcusTransactionId": i64(ids),
        "ExternalId": pa.array([f"ext{i}" for i in ids]),
        "Reference": pa.array([f"ref{i % 997}" for i in ids]),
        "ArcusCustomerId": pa.array([f"cus{i}" for i in payer]),
        "Description": _pick(rng, ["payment", "refund", "transfer"], k),
        "Amount": pa.array(amount[payer - 1] * rng.choice([0.5, 1.0, 1.16], k)),
        "CreatedAt": _ts(at),
        "ModifiedAt": _ts(mod),
        "CompletedAt": pa.array(at + 7_200_000_000, pa.timestamp("us"),
                                mask=completed_null),
        "Status": i32(st),
        "TransactionDirection": i32(rng.integers(0, 2, k)),
        "ExternalAccountNumber": pa.array([f"an{i % 5000}" for i in payer]),
        "ExternalAccountIdentifier": pa.array([f"ai{i % 5000}" for i in payer]),
        "ExternalAccountName": _pick(rng, ["acct one", "acct two"], k),
        "TrackingId": pa.array([f"tr{i}" for i in ids]),
        "FailureCode": pa.array(np.where(st == 2, "E01", None), pa.string())})
    arcus_created = at
    rows["user_loan_arcus_transactions"] = _write(
        tdir, "user_loan_arcus_transactions", {
            "ArcusTransactionId": i64(ids), "UserLoanId": i64(payer),
            "IsDistribution": i32(rng.random(k) < 0.1)})
    unalloc = ids[rng.random(k) < 0.05]
    rows["unallocated_payment_arcus_transactions"] = _write(
        tdir, "unallocated_payment_arcus_transactions",
        {"ArcusTransactionId": i64(unalloc)})

    payer, ids, at, k, st = pay_channel(2_000_000, 0.3, [0, 1])
    rows["stripe_transactions"] = _write(tdir, "stripe_transactions", {
        "StripeTransactionId": i64(ids),
        "Amount": pa.array(amount[payer - 1] * 0.5),
        "CreatedAt": _ts(at), "Status": i32(st)})
    rows["user_loan_stripe_transactions"] = _write(
        tdir, "user_loan_stripe_transactions",
        {"StripeTransactionId": i64(ids), "UserLoanId": i64(payer)})
    disputed = ids[rng.random(k) < 0.05]
    rows["stripe_dispute"] = _write(tdir, "stripe_dispute", {
        "StripeDisputeId": i64(np.arange(len(disputed)) + 3_000_000),
        "StripeTransactionId": i64(disputed),
        "DisputeStatus": i32(rng.integers(0, 4, len(disputed)))})

    payer, ids, at, k, st = pay_channel(4_000_000, 0.15, [1, 2])
    rows["openpay_transactions"] = _write(tdir, "openpay_transactions", {
        "OpenpayTransactionId": i64(ids),
        "Amount": pa.array(amount[payer - 1] * 0.25),
        "CreatedAt": _ts(at), "Status": i32(st)})
    rows["user_loan_openpay_transactions"] = _write(
        tdir, "user_loan_openpay_transactions", {
            "OpenpayTransactionId": i64(ids), "UserLoanId": i64(payer),
            "IsDistribution": i32(rng.random(k) < 0.1)})

    strat_loans = loan_id[rng.random(loans) < 0.4]
    reps = rng.integers(1, 4, len(strat_loans))
    s_loan = np.repeat(strat_loans, reps)
    s_created = created[s_loan - 1] + rng.integers(0, 20, len(s_loan)) * _DAY_US
    s_code = rng.choice(STRATEGY_CODES, len(s_loan))
    rows["raw_strategies"] = _write(tdir, "raw_strategies", {
        "UserLoanId": i64(s_loan),
        "CreatedAt": _ts(s_created),
        "Strategy": i32(s_code),
        "IsDeleted": pa.array(rng.random(len(s_loan)) < 0.05)})

    n_fb = max(10, loans // 20)
    fb_days = [(dt.date(2025, 1, 1) + dt.timedelta(days=int(d)))
               for d in rng.integers(0, 150, n_fb)]
    summary = rng.random(n_fb) < 0.05
    rows["facebook_raw"] = _write(tdir, "facebook_raw", {
        "Install Day": pa.array([d.strftime("%b %d, %Y").replace(" 0", " ")
                                 for d in fb_days]),
        "Media Source": pa.array(["facebook"] * n_fb),
        "Ad": pa.array([f"ad-{i}" for i in range(n_fb)], mask=summary),
        "Impressions (sum)": pa.array([f"{v:,}" for v in
                                       rng.integers(0, 50_000, n_fb)]),
        "Cost (sum)": pa.array([f"${v / 100:.2f}" for v in
                                rng.integers(0, 100_000, n_fb)])})

    # Arcus CSV drops: header, csv_rows data rows, trailing totals row
    tx = 9_000_000
    for f in range(csv_files):
        lines = ["tx_id,amount,date,reference"]
        cents = rng.integers(100, 500_000, csv_rows)
        days = rng.integers(0, 28, csv_rows)
        for c, d in zip(cents, days):
            lines.append(f"{tx},{c},2025-06-{d + 1:02d} 10:00:00,ref{tx % 97}")
            tx += 1
        lines.append(f",{int(cents.sum())},,TOTAL")
        with open(os.path.join(ddir, f"arcus_{f:03d}.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    # the late-strategy (code 14) join is one-to-many, as in the reference
    late_rows = np.bincount(s_loan[s_code == 14], minlength=loans + 1)[1:]
    expect = _etl_expectations(status, created, np.maximum(late_rows, 1),
                               arcus_created, summary, csv_files * csv_rows)
    return {"rows": rows, "expect": expect}


def _etl_expectations(status, created_us, fanout, arcus_created_us,
                      fb_summary, csv_rows_total: int) -> dict[str, int]:
    """Published row counts implied by the generated sources; ``fanout`` is
    the number of fact rows each loan yields."""
    import pandas as pd

    keep = status != 6
    issue_cdmx = (pd.to_datetime(created_us[keep], unit="us")
                  .tz_localize("UTC").tz_convert("America/Mexico_City")
                  .tz_localize(None))
    months = issue_cdmx.to_period("M").to_timestamp()
    fanout = fanout[keep]
    cutoff = pd.Timestamp(ETL_AS_OF.date().replace(day=1)
                          - dt.timedelta(days=1))
    days = (ETL_AS_OF.date() - dt.date(2022, 9, 1)).days + 1
    return {
        "loan_detail": int(fanout.sum()),
        "detail_2025": int(fanout[months >= pd.Timestamp("2025-01-01")].sum()),
        "accounting_summary": int(months[months < cutoff].nunique()),
        "calendar": days,
        "arcus_transactions": int((arcus_created_us
                                   >= _us(dt.datetime(2025, 6, 1))).sum()),
        "growth_facebook": int((~fb_summary).sum()),
        "streaming_rows": csv_rows_total,
    }
