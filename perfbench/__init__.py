"""quickb_spark benchmark harness (see perfbench/run.py)."""
