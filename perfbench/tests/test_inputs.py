"""Input generation accepts any integer seed and is deterministic.

numpy's generators take seeds in [0, 2**32); the benchmark's seed reaches
them multiplied by the chunk stride, so a large or negative ``--seed`` must
be folded into that range instead of raising.
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import inputs  # noqa: E402


@pytest.mark.parametrize("kind", sorted(inputs.FRAMES))
@pytest.mark.parametrize("seed", [-7, 987654321987])
def test_any_seed_generates_the_same_frame_twice(kind, seed):
    a = inputs.FRAMES[kind](seed, 5)
    b = inputs.FRAMES[kind](seed, 5)
    assert len(a) == 5
    assert a.equals(b)
