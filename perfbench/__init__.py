"""pi2spark benchmark harness (see run.py)."""
