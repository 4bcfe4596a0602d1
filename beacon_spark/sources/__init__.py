"""Format readers. Every surface (SQL ``read_<fmt>`` and its
``read_<fmt>_schema`` twin, the JSON DSL, the embedded client, catalog
and attached tables) reaches them through ``Engine.resolve_from``."""
