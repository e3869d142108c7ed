"""The repository root, found from this file, so a tool runs from any
working directory: the root goes on ``sys.path`` (the driver imports
the engine) and on ``PYTHONPATH`` (Spark's Python workers import it by
name). Import this before the engine:

    from _root import ROOT
"""

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
os.environ["PYTHONPATH"] = os.pathsep.join(
    [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)
