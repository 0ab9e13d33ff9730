"""The standalone scripts: each resolves its own checkout, and
``scripts/sf1_synth.py`` grows every base table exactly 10x with keys
distinct across replicas and joins inside one replica."""

from __future__ import annotations

import glob
import importlib.util
import os

import pyarrow.dataset as ds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


def _frame(path: str):
    return ds.dataset(path, format="parquet").to_table().to_pandas()


def test_scripts_name_no_fixed_checkout_path():
    """A script that puts a fixed checkout path on ``sys.path`` runs that
    checkout's code when started from a second copy (an A/B against a
    parent checkout times the wrong tree). Scripts derive the path from
    ``__file__``."""
    files = [*glob.glob(os.path.join(ROOT, "scripts", "*.py")),
             os.path.join(ROOT, "bench.py")]
    named = [os.path.relpath(f, ROOT) for f in files if ROOT in open(f).read()]
    assert not named, f"{named} name the checkout path {ROOT}"


def test_sf1_synth_grows_every_table_tenfold(spark, tmp_path):
    spec = importlib.util.spec_from_file_location(
        "sf1_synth", os.path.join(ROOT, "scripts", "sf1_synth.py")
    )
    synth = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(synth)
    synth.synth(spark, SF_DIR, str(tmp_path))

    src, out = {}, {}
    for t in synth.TABLES:
        src[t] = _frame(f"{SF_DIR}/{t}.parquet")
        out[t] = _frame(f"{tmp_path}/{t}.parquet")
        assert len(out[t]) == 10 * len(src[t]), t
        assert list(out[t].dtypes) == list(src[t].dtypes), t
        keys = [c for c in src[t].columns if synth.is_key(c)]
        assert keys, t
        for c in keys:  # no key value repeats across replicas
            assert out[t][c].nunique() == 10 * src[t][c].nunique(), (t, c)
    # the salted text keeps the corpus free of exact clones
    assert out["documents"].text.nunique() == 10 * src["documents"].text.nunique()

    def li_orders(f):
        return len(f["lineitem"].merge(
            f["orders"], left_on="l_orderkey", right_on="o_orderkey"
        ))

    assert li_orders(src) > 0
    assert li_orders(out) == 10 * li_orders(src)
