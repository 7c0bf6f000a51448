"""X12 medallion benchmark (see run.py and LAYERS.md)."""
