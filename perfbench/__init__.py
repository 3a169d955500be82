"""Workload benchmark for the loan-analytics engine (see perfbench/README.md)."""
