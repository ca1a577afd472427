"""Workload benchmark for the streaming analytics engine (see README.md)."""
