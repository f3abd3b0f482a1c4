from .confidence import action_expr, confidence_expr  # noqa: F401
from .quality import gopher_quality_columns  # noqa: F401
from .langid import langid_marker_columns  # noqa: F401
from .text_analysis import (  # noqa: F401
    fingerprint_md5_expr,
    token_count_exprs,
)
