"""Feature-store benchmark: see run.py and README.md."""
