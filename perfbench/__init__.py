"""Product-path benchmark; see README.md. Run ``perfbench/run.py``."""
