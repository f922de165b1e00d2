from .compat import dsum, davg, portable_hash32  # noqa: F401
from .datetime_fns import month_bucket  # noqa: F401
