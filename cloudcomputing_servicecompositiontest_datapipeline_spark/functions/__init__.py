from .exact import dsum, davg  # noqa: F401
