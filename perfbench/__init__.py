"""Engine benchmark: see run.py for usage and README.md for the rationale."""
