"""Pure-Column expression library (cleaning, text, vector math, hashing,
sketches). Import each module by name (``from ..functions import text``):
the package re-exports nothing, so a query's dependency closure holds
only the modules it imports."""
