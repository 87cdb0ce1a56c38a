"""Plan-shaping helpers: z-order clustering (``plans.zorder``)."""
