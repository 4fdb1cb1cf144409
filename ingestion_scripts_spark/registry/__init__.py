"""The query registry behind ``__spark_entry__``, split into parts.

Each part imports what it uses; the front door imports every part.
Import ``__spark_entry__``, not these parts."""
