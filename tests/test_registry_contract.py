"""Pin the driver-facing registry contract: the ordered ``all_queries()``
name list (``_FRONT`` first) and the sha256 of every oracle string must
stay byte-identical to ``registry_contract.json``.

Regenerate the golden file only for an intended contract change:
``python tests/test_registry_contract.py > tests/registry_contract.json``
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

GOLDEN = Path(__file__).with_name("registry_contract.json")


def current_contract() -> dict:
    from bigdata_scala_offline_data_clean_spark.queries import all_queries

    specs = all_queries()
    return {
        "names": list(specs),
        "oracle_sha256": {
            name: None
            if spec.oracle is None
            else hashlib.sha256(spec.oracle.encode()).hexdigest()
            for name, spec in specs.items()
        },
    }


def test_registry_names_order_and_oracle_hashes():
    from bigdata_scala_offline_data_clean_spark.queries import _FRONT

    golden = json.loads(GOLDEN.read_text())
    got = current_contract()
    assert got["names"][: len(_FRONT)] == _FRONT
    assert got["names"] == golden["names"]
    changed = [
        n
        for n in golden["names"]
        if got["oracle_sha256"].get(n) != golden["oracle_sha256"][n]
    ]
    assert not changed, f"oracle SQL changed: {changed}"


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    print(json.dumps(current_contract(), indent=1))
