"""Locations shared by the benchmark's scripts."""
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Everything a run leaves behind (build stamp, oracle cache, artifacts,
# per-run workdir) lives under this one ignored directory of the checkout.
STATE = os.path.join(ROOT, ".perfbench")
