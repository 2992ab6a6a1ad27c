"""Fuzz-harness invariants (no Spark needed): draws are deterministic
per (name, seed) — the FUZZ.json artifact must be reproducible —
and every sampler emits params its SQL builder accepts, with defaults
reproducing the registered oracle byte-for-byte (one implementation
serving both surfaces is the whole point)."""

import random

from tools.fuzz_oracles import _targets


def test_draws_deterministic_and_builders_accept_them():
    targets = _targets()
    assert len(targets) >= 20, "verdict floor: >= 20 fuzzed queries"
    for name, (fn, sql_builder, sampler) in targets.items():
        for seed in range(5):
            a = sampler(random.Random(f"{name}:{seed}"))
            b = sampler(random.Random(f"{name}:{seed}"))
            assert a == b, f"{name}[{seed}] draw not deterministic"
            sql = sql_builder(**a)
            assert isinstance(sql, str) and "SELECT" in sql.upper()


def test_default_builders_match_registered_oracles():
    from dataframe_retail_e_inventarios_spark.registry import oracle_sql

    oracles = oracle_sql()
    for name, (fn, sql_builder, sampler) in _targets().items():
        assert sql_builder() == oracles[name], (
            f"{name}: builder() with defaults diverged from the registered oracle"
        )
