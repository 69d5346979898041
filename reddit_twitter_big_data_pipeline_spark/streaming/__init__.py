from . import streams  # noqa: F401
