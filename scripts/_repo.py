"""Repository root on the import path of this process and its Python
workers, so a script runs from any directory.

Scripts import it before pyspark or the package: ``sys.path`` serves the
driver, and ``PYTHONPATH``, set before the JVM starts, is what Spark
hands to the Python workers it forks (as ``perfbench/run.py`` does).
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if REPO not in sys.path:
    sys.path.insert(0, REPO)
_paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
if REPO not in _paths:
    os.environ["PYTHONPATH"] = os.pathsep.join([REPO] + [p for p in _paths if p])
