from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from tokenqc.session import get_spark
from tokenqc import synth

N_ROWS = 5000
SEED = 42


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # the reference digest store lives under the warehouse: a fresh one
    # per test session, so no digest outlives the session that built it
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        "tokenqc-tests", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


@pytest.fixture(scope="session")
def synth_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("synthdata")
    synth.write_dataset(str(d), N_ROWS, SEED)
    return str(d)


@pytest.fixture(scope="session")
def expected():
    return synth.plan_expected(N_ROWS)


@pytest.fixture(scope="session")
def tables(spark, synth_dir):
    return {
        name: spark.read.parquet(f"{synth_dir}/{name}.parquet")
        for name in [
            "sequences",
            "reference_tokens",
            "allowed_sources",
            "baseline_hist",
            "token_baseline",
        ]
    }


@pytest.fixture(scope="session")
def seq_pa(synth_dir):
    return pq.read_table(f"{synth_dir}/sequences.parquet")
