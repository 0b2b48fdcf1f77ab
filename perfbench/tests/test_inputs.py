"""Inputs and schedules are a pure function of the seed.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import inputs  # noqa: E402


def _digest_dir(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _inputs(seed: int, root) -> dict[str, str]:
    inputs.write_tables(seed, str(root / "tables"))
    inputs.write_corpus(seed, str(root / "corpus"))
    return {
        **{f"tables/{k}": v for k, v in _digest_dir(str(root / "tables")).items()},
        **{f"corpus/{k}": v for k, v in _digest_dir(str(root / "corpus")).items()},
    }


def _schedules(seed: int):
    return (
        inputs.memo_schedule(seed),
        inputs.memo_check_pick(seed, [("a",), ("b",), ("c",), ("d",)]),
    )


def test_same_seed_gives_identical_inputs_and_schedules(tmp_path):
    first = _inputs(7, tmp_path / "a")
    second = _inputs(7, tmp_path / "b")
    assert first == second
    assert len(first) == 12
    assert _schedules(7) == _schedules(7)


def test_different_seed_gives_different_inputs_and_schedules(tmp_path):
    a = _inputs(7, tmp_path / "a")
    b = _inputs(8, tmp_path / "b")
    # Every seeded file differs; region and nation are fixed dimensions.
    same = {k for k in a if a[k] == b[k]}
    assert same == {"tables/region.parquet", "tables/nation.parquet"}
    memo_a, _ = _schedules(7)
    memo_b, _ = _schedules(8)
    assert memo_a != memo_b


def test_memo_cycle_is_a_fixed_mix_in_which_every_edit_is_new():
    for seed in (1, 2, 3):
        cold, *cycle = inputs.memo_schedule(seed)
        assert cold.kind == "cold"
        kinds = [r.kind for r in cycle]
        n_edits = len(inputs.MEMO_EDITS)
        assert kinds.count("rerun") == n_edits * inputs.RERUNS_PER_EDIT
        assert kinds.count("rehydrate") == n_edits // 2
        edits = [r.params for r in cycle if r.kind == "edit"]
        assert len(edits) == n_edits
        assert len(set(edits) | {cold.params}) == len(edits) + 1
        computed = {cold.params}
        for r in cycle:
            if r.kind == "rehydrate":
                assert r.params in computed
            computed.add(r.params)
