from . import cell, pip, wkb  # noqa: F401
