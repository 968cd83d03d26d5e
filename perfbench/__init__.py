"""Extraction-job benchmark (see README.md)."""
