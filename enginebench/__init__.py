"""Engine benchmark for tinybrain_spark; entry point is ``run.py``."""
