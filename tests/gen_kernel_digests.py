"""Regenerate tests/fixtures/kernel_digests.json — md5s of the rendered
media bytes and recognized word tuples that
test_kernels.test_kernel_outputs_frozen pins. Run ONLY for an intended
change of kernel output (a new render or recognizer algorithm), never to
make a speed-up pass."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))
sys.path.insert(0, str(Path(__file__).parent.parent))

from test_kernels import DIGEST_FIXTURE, kernel_digests  # noqa: E402

DIGEST_FIXTURE.write_text(json.dumps(kernel_digests(), indent=1) + "\n")
print(f"wrote {DIGEST_FIXTURE}")
