"""Regenerate tests/fixtures/frozen_hashes.json — the byte-freeze
fingerprints (fn source + rendered oracle SQL) of every query shipping on
a prior round's driver proof (``ocr_suite_spark.queries.FROZEN``). Run
ONLY when that set legitimately changes; see
test_oracle_parity.test_frozen_bodies_unchanged."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))
sys.path.insert(0, str(Path(__file__).parent.parent))

from test_oracle_parity import _frozen_body_hash  # noqa: E402

from ocr_suite_spark.queries import FROZEN  # noqa: E402

out = {n: _frozen_body_hash(n) for n in sorted(FROZEN)}
path = os.path.join(os.path.dirname(__file__), "fixtures", "frozen_hashes.json")
with open(path, "w") as f:
    json.dump(out, f, indent=1, sort_keys=True)
print(f"wrote {len(out)} hashes to {path}")
