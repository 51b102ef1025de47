"""Cold benchmark of the engine's query catalog (see run.py)."""
