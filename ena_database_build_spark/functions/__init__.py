"""Line and location primitives of the EMBL parse (``embl``, ``locations``)."""
