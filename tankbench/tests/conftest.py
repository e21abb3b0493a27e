"""Self-tests of the benchmark: ``python3 -m pytest tankbench/tests -q``
from the repository root. ``test_tiny_runs.py`` runs the workloads at
tiny sizes through a real session (about three minutes in all)."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
