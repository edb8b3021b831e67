"""The frozen language-ID tables in data/expected_sf0.01/ still equal
the pure-Python label spec (tools/gen_expected.py). No Spark runs."""

import importlib.util
import os
from pathlib import Path

import pandas as pd

GEN = Path(__file__).resolve().parent.parent / "tools" / "gen_expected.py"


def test_frozen_tables_equal_the_spec():
    spec = importlib.util.spec_from_file_location("gen_expected", GEN)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    tables = gen.expected_tables()
    # every frozen file is rebuilt, and every rebuilt table is frozen
    assert sorted(f"{n}.parquet" for n in tables) == sorted(os.listdir(gen.OUT))
    for name, rebuilt in tables.items():
        frozen = pd.read_parquet(os.path.join(gen.OUT, f"{name}.parquet"))
        pd.testing.assert_frame_equal(rebuilt, frozen, obj=name)
