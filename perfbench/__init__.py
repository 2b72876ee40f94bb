"""fluxdb_spark benchmark; entry point perfbench/run.py."""
