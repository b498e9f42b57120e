"""Make the benchmark's modules importable as top-level names, as they are
when ``creditbench/run.py`` runs."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
