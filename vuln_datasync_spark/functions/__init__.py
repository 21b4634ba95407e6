from .hashing import content_sha256  # noqa: F401
from .normalize import (  # noqa: F401
    detect_lang_udf,
    ecosystem_from_slug,
    normalize_events,
    summary_truncate,
)
