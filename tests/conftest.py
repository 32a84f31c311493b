import pytest

from kglids_spark.session import get_spark
from kglids_spark.sources.tokens import generate_tokens

N_FIXTURE_ROWS = 30000


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kglids_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tokens_df(spark):
    df = generate_tokens(spark, N_FIXTURE_ROWS, partitions=8).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def tokens_path(tokens_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("data") / "tokens_parquet")
    tokens_df.write.mode("overwrite").parquet(p)
    return p


@pytest.fixture(scope="session")
def duck(tokens_path):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW tokens AS SELECT * FROM read_parquet('{tokens_path}/*.parquet')"
    )
    return con


# A-priori normalized rank error of one quantile query on a KLL sketch
# at Spark's default k=200, at 99% confidence (the "Epsilon" that
# kll_sketch_to_string_double reports for such a sketch).
KLL_RANK_EPS = 0.01329


@pytest.fixture(scope="session")
def assert_kll_rank_bound(duck):
    """Check a run's ``n_tok_median_kll``/``n_tok_iqr_kll`` against
    DuckDB's exact quantiles of the fixture table: each sketch quantile
    at rank q must have a true rank within eps*n of q*n, i.e. lie
    between the exact quantiles at q-eps and q+eps; the IQR is bounded
    by the extremes those quartile intervals allow."""

    def bounds(q: float) -> tuple[float, float]:
        return duck.execute(
            "SELECT quantile_disc(n_tok, ?), quantile_disc(n_tok, ?) FROM tokens",
            [max(q - KLL_RANK_EPS, 0.0), min(q + KLL_RANK_EPS, 1.0)],
        ).fetchone()

    def check(metrics: dict) -> None:
        (m_lo, m_hi), (a_lo, a_hi), (b_lo, b_hi) = bounds(0.5), bounds(0.25), bounds(0.75)
        assert m_lo <= metrics["n_tok_median_kll"] <= m_hi
        assert b_lo - a_hi <= metrics["n_tok_iqr_kll"] <= b_hi - a_lo

    return check
