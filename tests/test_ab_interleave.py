"""tools/ab_interleave.py: a failed bench session must not be read as
a result."""

from __future__ import annotations

import pytest

from tools.ab_interleave import run_subset


def test_run_subset_raises_on_nonzero_exit_before_parsing(tmp_path):
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "bench_subset.py").write_text(
        "import json, sys\n"
        "print(json.dumps({'queries': {'q_x': 1.0}}))\n"
        "print('boom: query q_x failed', file=sys.stderr)\n"
        "sys.exit(1)\n"
    )
    with pytest.raises(RuntimeError, match="exited 1(.|\\n)*boom: query q_x"):
        run_subset(str(tmp_path), "sf", ["q_x"], {})
