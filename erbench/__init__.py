"""End-to-end benchmark of the record-linkage paths; entry point ``run.py``."""
