from .batch import track_sequences  # noqa: F401
