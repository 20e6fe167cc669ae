"""Layer-attributed benchmark for the engine; see run.py."""
