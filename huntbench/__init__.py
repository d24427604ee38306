"""spark-hunt benchmark (see run.py)."""
