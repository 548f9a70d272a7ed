from __future__ import annotations

import os
import zipfile

import pytest

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".fixtures")
REF_DATA = "/root/reference/crates/test/data"

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running (multi-process) tests"
    )


@pytest.fixture(scope="session")
def spark():
    from hudi_rs_spark.session import get_spark

    s = get_spark("hudi-rs-spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def extract_fixture(rel_zip: str) -> str:
    """Unzip a reference golden table (data fixture, not code) into the
    local cache; returns the extracted table base path. Skips the
    calling test when the golden zip is absent."""
    zpath = os.path.join(REF_DATA, rel_zip)
    name = os.path.splitext(os.path.basename(zpath))[0]
    dest_root = os.path.join(FIXTURE_DIR, os.path.dirname(rel_zip))
    table_path = os.path.join(dest_root, name)
    if not os.path.isdir(table_path):
        if not os.path.isfile(zpath):
            pytest.skip(f"golden fixture {zpath} is absent")
        os.makedirs(dest_root, exist_ok=True)
        with zipfile.ZipFile(zpath) as z:
            z.extractall(dest_root)
    return table_path


@pytest.fixture(scope="session")
def v8_trips_table():
    return extract_fixture("quickstart_trips_table/mor/avro/v8_trips_8i3u1d.zip")


@pytest.fixture(scope="session")
def v6_cow_nonhive():
    return extract_fixture("sample_table/cow/v6_simplekeygen_nonhivestyle.zip")


@pytest.fixture(scope="session")
def v6_cow_nonpartitioned():
    return extract_fixture("sample_table/cow/v6_nonpartitioned.zip")
