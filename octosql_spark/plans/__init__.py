"""Plan rendering. Catalyst is the optimizer and its analyzed plan is
the plan tree; ``plans.dot`` renders it for ``cli --explain-dot``."""
