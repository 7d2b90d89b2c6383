"""Operator families, one module each. The registry the driver reads is
the ordered entry table in ``__spark_entry__._entries()``; importing
this package loads none of its modules."""
