"""EngineConfig validation mirrors the reference's typed parameter
table (default_parameters.py ranges via configuration.py:47-69)."""

import pytest

from pyrate_spark.config import DEFAULT, EngineConfig


def test_defaults_valid_and_hash_stable():
    assert DEFAULT.params_hash() == EngineConfig().params_hash()
    assert len(DEFAULT.params_hash()) == 16


@pytest.mark.parametrize("kw,msg", [
    ({"ts_method": 3}, "one of these values"),
    ({"sm_order": 0}, "one of these values"),
    ({"sm_factor": 0.5}, "less than or equal to 0.0"),
    ({"sm_factor": -6.0}, "greater than or equal to -5.0"),
    ({"nsig": 0}, "greater than or equal to 1"),
    ({"pthr": 0}, "greater than or equal to 1"),
    ({"maxsig": 1001}, "less than or equal to 1000"),
    ({"velerror_nsig": 0}, "greater than or equal to 1"),
    ({"vcm_mode": "bogus"}, "one of these values"),
    ({"tlpf_cutoff_days": 0}, "greater than or equal to 1"),
    ({"nan_thresh": 1.5}, "less than or equal to 1.0"),
    ({"max_loop_length": 2}, "greater than or equal to 3"),
    ({"closure_thr": 0.001}, "greater than or equal to 0.01"),
    ({"ifg_drop_thr": 1.5}, "less than or equal to 1.0"),
    ({"min_loops_per_ifg": -1}, "greater than or equal to 0"),
    ({"ts_pthr": 2000}, "less than or equal to 1000"),
    ({"max_pairs_per_epoch": 0}, "greater than or equal to 1"),
    ({"tiers": ()}, "non-empty tuple"),
])
def test_out_of_range_rejected(kw, msg):
    with pytest.raises(ValueError) as exc:
        EngineConfig(**kw)
    assert msg in str(exc.value)


def test_in_range_accepted():
    c = EngineConfig(ts_method=2, sm_factor=-5.0, nsig=10, maxsig=0,
                     vcm_mode="maxvar", nan_thresh=0.0, max_loop_length=3,
                     closure_thr=0.01, ifg_drop_thr=1.0, ts_pthr=0)
    assert c.ts_method == 2
    # frozen + validated configs with different knobs hash differently
    assert c.params_hash() != DEFAULT.params_hash()
