"""Pure-Python PDF core (parser, filters, fonts, interpreter).

This subpackage deliberately has **no Spark dependency** so it can be
imported inside Python workers for ``mapInArrow`` batches and unit-tested
with plain pytest. Semantics follow the C reference (file:line cites in
each module's docstrings); deliberate divergences are documented inline.
"""

from pdf_spark.core.errors import PdfError  # noqa: F401
from pdf_spark.core.extract import extract_document, assemble_text  # noqa: F401
