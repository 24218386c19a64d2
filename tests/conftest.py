from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_foundations_spark.operators.caching import cache_scope  # noqa: E402
from data_pipeline_foundations_spark.session import get_spark  # noqa: E402
from data_pipeline_foundations_spark.tables import TABLES, table_path  # noqa: E402

SMOKE_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Managed tables and warehouse snapshots go to a per-session temp dir,
    # never to ./spark-warehouse: the suite runs from any cwd and leaves
    # nothing in the checkout. Appended, so it wins over a caller's value.
    wh = tmp_path_factory.mktemp("warehouse")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_EXTRA_CONF", ";".join(filter(None, [
            os.environ.get("SPARK_GRAFT_EXTRA_CONF"),
            f"spark.sql.warehouse.dir={wh}"])))
        s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _cache_scope():
    """Each test runs in its own cache scope, so what a test persists or
    checkpoints is released when it ends and never reaches the next."""
    with cache_scope():
        yield


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        p = table_path(SMOKE_SF, name)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    yield con
    con.close()


# ---------------------------------------------------------------------------
# Shared loan-pipeline fixtures (FIXTURES.md §4 coverage; used by the
# loan-detail and accounting pipeline tests)
# ---------------------------------------------------------------------------
import datetime as _dt  # noqa: E402

from data_pipeline_foundations_spark.pipelines import (  # noqa: E402
    collections_strategies, loan_detail,
)

LOAN_AS_OF = _dt.datetime(2025, 7, 1, 12, 0, 0)
TS = _dt.datetime


@pytest.fixture(scope="session")
def loan_inputs(spark):

    mk = spark.createDataFrame

    user_loans = mk([
        # (UserLoanId, SubId, OfferId, CreatedAt, ModifiedAt, DueDate, Amount,
        #  Fee, LateFee, FeeRatio, LoanStatus, IsLate)
        # loan 1: repaid, exact pay, first loan of user 10
        (1, 101, 201, TS(2025, 1, 1), TS(2025, 2, 1), TS(2025, 2, 1), 1000.0, 100.0, 0.0, 0.1, 2, 0),
        # loan 2: repaid but UNDERPAID (adjustment path), second loan of user 10
        (2, 101, 201, TS(2025, 3, 1), TS(2025, 4, 1), TS(2025, 4, 1), 1000.0, 100.0, 0.0, 0.1, 2, 0),
        # loan 3: active, late w/ late fee, partial-bucket payment, user 11
        (3, 102, 202, TS(2025, 2, 1), TS(2025, 5, 1), TS(2025, 3, 1), 500.0, 50.0, 80.0, 0.1, 1, 1),
        # loan 4: repaid with NO payments (settled-on-DueDate edge), user 11
        (4, 102, None, TS(2025, 4, 1), TS(2025, 5, 1), TS(2025, 5, 1), 200.0, 20.0, 0.0, 0.1, 2, 0),
        # loan 5: defaulted, zero payments, overdue, user 12
        (5, 103, 202, TS(2025, 1, 15), TS(2025, 2, 15), TS(2025, 2, 15), 300.0, 30.0, 45.0, 0.1, 3, 1),
        # loan 6: DisbursementFailed — must be EXCLUDED
        (6, 103, None, TS(2025, 1, 1), TS(2025, 1, 2), TS(2025, 2, 1), 100.0, 10.0, 0.0, 0.1, 6, 0),
        # loan 7: active, overpay + dispute, multi-channel, user 12
        (7, 103, 201, TS(2025, 5, 1), TS(2025, 6, 1), TS(2025, 6, 1), 400.0, 40.0, 0.0, 0.1, 1, 0),
    ], schema=("UserLoanId long, UserLoanSubscriptionId long, JitLoanOfferId long, "
               "CreatedAt timestamp, ModifiedAt timestamp, DueDate timestamp, "
               "Amount double, Fee double, LateFee double, FeeRatio double, "
               "LoanStatus int, IsLate int"))

    subs = mk([(101, 10), (102, 11), (103, 12)],
              schema="UserLoanSubscriptionId long, UserId long")
    offers = mk([(201, 0, 7, 0.91), (202, 3, 99, 0.42)],
                schema="LoanOfferId long, OfferPolicy int, CreditPolicy int, MlScore double")

    arcus_tx = mk([
        (301, 1276.0, TS(2025, 1, 20), 1),    # loan1 exact: 1000+100+16 = 1116? no: 1276 split below
        (302, 500.0, TS(2025, 3, 20), 1),
        (303, 100.0, TS(2025, 4, 10), 2),     # Status=2 excluded
        (304, 300.0, TS(2025, 5, 20), 1),
    ], schema="ArcusTransactionId long, Amount double, CompletedAt timestamp, Status int")
    ulat = mk([(301, 1, 0), (302, 2, 0), (303, 2, 0), (304, 7, 0)],
              schema="ArcusTransactionId long, UserLoanId long, IsDistribution int")

    stripe_tx = mk([
        (401, 200.0, TS(2025, 3, 5), 1),      # loan3 partial bucket
        (402, 250.0, TS(2025, 6, 10), 1),     # loan7
        (403, 50.0, TS(2025, 6, 11), 0),      # failed, excluded
    ], schema="StripeTransactionId long, Amount double, CreatedAt timestamp, Status int")
    ulst = mk([(401, 3), (402, 7), (403, 7)],
              schema="StripeTransactionId long, UserLoanId long")
    disputes = mk([(501, 402, 2)],
                  schema="StripeDisputeId long, StripeTransactionId long, DisputeStatus int")

    openpay_tx = mk([(601, 30.0, TS(2025, 6, 12), 2), (602, 99.0, TS(2025, 6, 13), 1)],
                    schema="OpenpayTransactionId long, Amount double, CreatedAt timestamp, Status int")
    ulot = mk([(601, 7, 0), (602, 7, 0)],
              schema="OpenpayTransactionId long, UserLoanId long, IsDistribution int")

    raw_strategies = mk([
        # loan 3: two post-DD rows with TIED CreatedAt (dedup tiebreak) + one later
        (3, TS(2025, 3, 10), 10, False),
        (3, TS(2025, 3, 10), 4, False),
        (3, TS(2025, 3, 12), 11, False),     # latest wins: Moonflow → threshold override
        # loan 5: explicit post-DD strategy
        (5, TS(2025, 2, 20), 13, False),
        # loan 5: pypper late strategy (code 14) → LateStrategy columns
        (5, TS(2025, 3, 1), 14, False),
        # loan 1: pre-DD strategy filtered OUT of post-DD enrichment
        (1, TS(2025, 1, 10), 5, False),
        # unknown code 99 dropped entirely
        (1, TS(2025, 1, 11), 99, False),
    ], schema="UserLoanId long, CreatedAt timestamp, Strategy int, IsDeleted boolean")

    inputs = {
        "user_loans": user_loans,
        "user_loan_subscriptions": subs,
        "loan_offers": offers,
        "arcus_transactions": arcus_tx,
        "user_loan_arcus_transactions": ulat,
        "stripe_transactions": stripe_tx,
        "user_loan_stripe_transactions": ulst,
        "stripe_dispute": disputes,
        "openpay_transactions": openpay_tx,
        "user_loan_openpay_transactions": ulot,
        "collections_strategies": collections_strategies(raw_strategies),
    }
    return inputs


@pytest.fixture(scope="session")
def loan_fact_df(loan_inputs):
    return loan_detail(loan_inputs, as_of=LOAN_AS_OF)


