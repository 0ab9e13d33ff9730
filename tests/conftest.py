import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from littletable_spark import get_spark

    return get_spark(cpus=8)


@pytest.fixture(scope="session")
def registry_frames(spark):
    """Every registry query built once at sf0.001: name -> DataFrame, in
    registry order. For tests that read schemas and analyzed plans,
    which do not depend on what the session has cached."""
    import __spark_entry__ as entrymod

    return {
        name: fn(spark, "/root/testdata/sf0.001")
        for name, fn in entrymod.registry().items()
    }


@pytest.fixture()
def abc(spark):
    """The reference suite's canonical table: {a,b,c} = range(3)^3
    (unit_tests.py:374-379), lexicographic row order."""
    from itertools import product

    from littletable_spark import Table

    t = Table("abc", spark=spark)
    t.insert_many({"a": a, "b": b, "c": c} for a, b, c in product(range(3), repeat=3))
    return t


@pytest.fixture()
def catalog_prices(spark):
    """Outer-join truth-table pair (reference unit_tests.py:1682-1697)."""
    from littletable_spark import Table

    catalog = Table("catalog", spark=spark)
    catalog.insert_many(
        [
            {"sku": "001", "color": "red", "size": "XL", "material": "cotton"},
            {"sku": "002", "color": "blue", "size": "L", "material": "cotton/poly"},
            {"sku": "003", "color": "blue", "size": "L", "material": "linen"},
            {"sku": "004", "color": "red", "size": "M", "material": "cotton"},
        ]
    )
    prices = Table("prices", spark=spark)
    prices.insert_many(
        [
            {"sku": "001", "unit_price": 10, "size": "L"},
            {"sku": "001", "unit_price": 12, "size": "XL"},
            {"sku": "002", "unit_price": 9, "size": None},
            {"sku": "005", "unit_price": 11, "size": None},
        ]
    )
    return catalog, prices
