"""The kernels freeze the worker's import-time heap once per process.

pyspark's daemon runs a full ``gc.collect()`` after every task of a reused
worker; ``kernels._freeze_import_heap`` moves the objects the imports left
behind into the permanent generation so that collection stops walking
them.  The check runs in a fresh interpreter so this test process's own
heap stays unfrozen.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

CHILD = textwrap.dedent(
    """
    import gc

    import pandas as pd

    from pgstosrt_spark.kernels import _freeze_import_heap, make_fused_kernel

    assert gc.get_freeze_count() == 0
    batch = pd.DataFrame(
        {
            "doc_id": ["d"],
            "offset": [0],
            "kind": ["text"],
            "media_ref": [None],
            "text": ["hello"],
            "payload": [None],
        }
    )
    (out,) = make_fused_kernel()(iter([batch]))
    assert out["text"].tolist() == ["hello"]
    frozen = gc.get_freeze_count()
    assert frozen > 0, frozen
    _freeze_import_heap()
    assert gc.get_freeze_count() == frozen, (gc.get_freeze_count(), frozen)
    print(frozen)
    """
)


def test_kernel_freezes_import_heap_once():
    proc = subprocess.run(
        [sys.executable, "-c", CHILD],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    # the worker's imports leave tens of thousands of tracked objects
    assert int(proc.stdout.split()[-1]) > 10_000
