"""perfbench: the repository benchmark (see perfbench/run.py)."""
