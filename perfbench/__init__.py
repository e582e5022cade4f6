"""Pub/sub benchmark harness for ripple_server_spark (entry point: run.py)."""
