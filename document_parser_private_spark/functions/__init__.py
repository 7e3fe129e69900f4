"""Native Column-expression scalar functions (JVM-side, codegen-friendly).

Everything here compiles to Catalyst expressions — no Python in the hot
path. Java-regex flavors of the patterns defined in ``semantics``.
"""

from .contact import contact_struct, email_col, phone_col, linkedin_col, github_col, name_col  # noqa: F401
from .text import summary_col, collapse_ws, split_entries_col  # noqa: F401
from .pii import pii_hash_col  # noqa: F401
