import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]
# Spark's Python workers import the program too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(HERE.parent.parent), os.environ.get("PYTHONPATH", "")) if p
)
