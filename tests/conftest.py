"""Shared fixtures.

The reference implementation at /root/reference (read-only) is imported as a
TEST ORACLE ONLY — production code never touches it. ``ingest.spans`` imports
PIL at module scope purely for overlay drawing; a stub module satisfies the
import so the pure geometry functions are reachable as oracles.
"""

from __future__ import annotations

import importlib
import sys
import types

import pytest

REFERENCE_PATH = "/root/reference"

if REFERENCE_PATH not in sys.path:
    sys.path.insert(0, REFERENCE_PATH)

# PIL is not installed here; ingest.spans only needs the names at import time.
if "PIL" not in sys.modules:
    try:
        import PIL  # noqa: F401
    except ImportError:
        pil = types.ModuleType("PIL")
        pil.Image = types.SimpleNamespace(open=None, Image=object)
        pil.ImageDraw = types.SimpleNamespace(Draw=None)
        sys.modules["PIL"] = pil


@pytest.fixture(scope="session")
def reference():
    """``reference("spans")`` imports ``ingest.spans`` from the reference;
    a test that asks for this fixture skips when the reference is absent,
    so the oracle-free tests of its module still run."""
    pytest.importorskip("ingest", reason=f"reference not found at {REFERENCE_PATH}")
    return lambda name: importlib.import_module(f"ingest.{name}")


@pytest.fixture(scope="session")
def spark():
    from ocr_obsidian_spark.session import build_session

    spark = build_session("ocr-obsidian-spark-tests", "local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def fixture_pages():
    from ocr_obsidian_spark.sources.fixtures import fixture_page_rows

    return fixture_page_rows(n_books=3, pages_per_book=18, seed=42, skew_factor=20)


@pytest.fixture(scope="session")
def fixture_triggers():
    from ocr_obsidian_spark.sources.fixtures import fixture_trigger_rows

    return fixture_trigger_rows(n_books=3, pages_per_book=18, seed=42)


@pytest.fixture(scope="session")
def pages_df(spark, fixture_pages):
    from ocr_obsidian_spark.schemas import PAGES

    return spark.createDataFrame(fixture_pages, schema=PAGES).cache()


@pytest.fixture(scope="session")
def triggers_df(spark, fixture_triggers):
    from ocr_obsidian_spark.schemas import TRIGGERS

    return spark.createDataFrame(fixture_triggers, schema=TRIGGERS).cache()
