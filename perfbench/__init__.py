"""afspark benchmark workloads; entry point ``perfbench/run.py``."""
