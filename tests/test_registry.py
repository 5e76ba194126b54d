"""The registry's observable contract: query order (the correctness
driver checks a leading window of it) and every oracle's SQL text,
pinned against ``registry_golden.json``. Regenerate the golden file
only when a change means to reorder queries or edit an oracle."""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

GOLDEN = Path(__file__).with_name("registry_golden.json")


def test_registry_order_and_oracle_digests_match_golden():
    from fifa_data_pipeline_spark.plans import registry

    golden = json.loads(GOLDEN.read_text())
    assert list(registry.QUERIES) == golden["queries"]
    digests = {
        name: hashlib.sha256(sql.encode()).hexdigest()
        for name, sql in registry.ORACLES.items()
    }
    assert digests == golden["oracle_sha256"]
