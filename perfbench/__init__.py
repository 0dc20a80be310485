"""Cron-tick benchmark of the incremental pipeline (see README.md)."""
