"""Pure-Python kernels: bytes -> objects -> ops -> spans.

Layer 1 of the engine (SURVEY.md §7.0): no Spark imports here — every
function is independently unit-testable and runs inside Arrow-batch
UDF invocations on executors.
"""

from .cos import Name, PdfError, Ref, StreamObj, parse_object  # noqa: F401
from .document import PdfDocument  # noqa: F401
from .extract import extract_doc, page_text  # noqa: F401
