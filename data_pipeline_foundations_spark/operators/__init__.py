from . import calendar, waterfall  # noqa: F401
from .caching import cache_scope, tracked_persist  # noqa: F401
