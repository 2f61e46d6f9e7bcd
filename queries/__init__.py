"""Gate query families behind ``__spark_entry__``: one module per
family, each holding its ``_q_*`` query functions and an ``ORACLE``
dict of their DuckDB texts side by side."""
