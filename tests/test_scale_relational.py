"""tools/scale_relational.py: the key-space split check behind the
SPARK_GRAFT_SCALE_TABLES warning (pure, no Spark)."""

from __future__ import annotations

from tools.scale_relational import _SCALED, split_key_spaces


def test_full_scale_splits_no_key_space():
    assert split_key_spaces(_SCALED) == {}


def test_subset_names_the_unscaled_partners():
    assert split_key_spaces(("lineitem",)) == {
        "orderkey": ["orders"],
        "suppkey": ["supplier"],
        "partkey": ["part"],
    }
    # a key space with no scaled table is not split, just unscaled
    assert split_key_spaces(("events",)) == {}
    assert split_key_spaces(("orders", "lineitem")) == {
        "custkey": ["customer"],
        "suppkey": ["supplier"],
        "partkey": ["part"],
    }
