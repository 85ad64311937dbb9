from __future__ import annotations

import importlib.util
import math
import os
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ml_training_data_pipeline_spark.plans import registry  # noqa: E402
from ml_training_data_pipeline_spark.session import get_spark  # noqa: E402

registry._load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    def make(sf_dir: str) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return con

    return make


def load_script(name: str):
    """Import ``scripts/<name>.py`` as a module (scripts/ is not a package)."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def plan_str(df) -> str:
    """The static ``executedPlan`` string, the form plan_audit counts."""
    return df._jdf.queryExecution().executedPlan().toString()


def explain_str(spark, name_or_df) -> str:
    """Spark's ``formatted`` explain (numbered node details) of a registered
    query at SF_DIR, or of a DataFrame."""
    df = registry.QUERIES[name_or_df](spark, SF_DIR) if isinstance(name_or_df, str) else name_or_df
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def fill(prefix: str, n: int) -> str:
    """n doc-unique filler tokens: ``<prefix>000 <prefix>001 ...``."""
    return " ".join(f"{prefix}{i:03d}" for i in range(n))


def write_documents(
    tmpdir: str, texts: list[str], sources: list[str] | None = None,
    doc_ids: list[int] | None = None,
) -> str:
    """A planted ``documents.parquet`` (one file, like the test data): ids
    1..n unless given, lang ``en``, source ``planted`` unless given."""
    pdf = pd.DataFrame(
        {
            "doc_id": doc_ids or range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": sources or (["planted"] * len(texts)),
            "n_chars": [len(t) for t in texts],
        }
    )
    pdf.to_parquet(os.path.join(tmpdir, "documents.parquet"), index=False)
    return tmpdir


def compare_to_oracle(spark, name: str, sf_dir: str) -> pd.DataFrame:
    """Run a registered query and its DuckDB oracle over a planted
    ``documents.parquet``; assert equal frames and return the sorted Spark one."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
    a = registry.QUERIES[name](spark, sf_dir).toPandas()
    b = con.execute(registry.ORACLE_SQL[name]).fetchdf()
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)
    a = a[cols].sort_values(by=cols, ignore_index=True)
    b = b[cols].sort_values(by=cols, ignore_index=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    return a


def dead_pid() -> int:
    """A just-reaped child pid: guaranteed dead (Linux allocates pids
    sequentially, so no immediate reuse) — scratch pruning is
    liveness-gated."""
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def assert_no_negative_zero(pdf: pd.DataFrame, name: str) -> None:
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            for i, x in enumerate(pdf[c]):
                if x == 0.0 and not math.isnan(x):
                    assert math.copysign(1.0, x) > 0, (
                        f"{name}.{c}[{i}] is -0.0 — the integer-exact "
                        "contract guarantees +0.0 for zero numerators"
                    )
