"""Lakehouse benchmark: DML churn, streaming CDC ingest and an operator
query mix, measured end to end (``run.py --trace 0``) and per layer
(``run.py --trace 1``). See README.md."""
